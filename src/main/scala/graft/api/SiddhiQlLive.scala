package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.engine.Cep

/** [[SiddhiQL]]'s live deployment: the Structured Streaming topology
  * builder (deployApp), the LiveFold channel (keyed/bucketed state,
  * windowed flush folds; the enrichment join lowers in
  * [[SiddhiQlLiveEnrich]], output rate limiting in [[SiddhiQlRate]]),
  * and the fold runner over in-memory state generations. Mixed into
  * `object SiddhiQL`. */
private[api] trait SiddhiQlLive extends Serializable {
  self: SiddhiQlFrontend with SiddhiQlCompiler with SiddhiQlLiveStages
    with SiddhiQlLiveEnrich with SiddhiQlRate =>
  // ---------- live deployment ----------
  /** The single source watermark bound: every deployed topology
    * declares `withWatermark("ts", <delay>)` at the source, and the
    * compaction split freezes buckets only at or below
    * (batch max ts_ns − delay). ONE value feeds both — a larger delay
    * with an unchanged freeze predicate would shed buckets still
    * reachable by late rows, silently corrupting as-of enrichment
    * with no gate failure at default compactEvery. The default is
    * 60 s; a deployment with later-arriving data raises it through
    * ONE validated knob (`graft.live.watermark`, seconds), captured
    * once per deployment so the two cannot drift apart. */
  private[api] final val DefaultWatermarkNs: Long = 60000000000L
  private[api] def watermarkNs(sp: SparkSession): Long =
    positiveIntConf(sp, "graft.live.watermark")
      .map(_ * 1000000000L).getOrElse(DefaultWatermarkNs)

  /** A `graft.live.*` integer knob, validated: a malformed or
    * non-positive value fails at deploy time with the key named
    * (mirroring the other deploy-time fail-fasts) instead of an
    * uncontextualized NumberFormatException, a modulo that never fires
    * or an empty bucket range. None when unset. */
  private[api] def positiveIntConf(sp: SparkSession, key: String)
      : Option[Int] =
    sp.conf.getOption(key).map { s =>
      val n = try s.trim.toInt catch {
        case _: NumberFormatException =>
          fail(s"$key must be a positive integer; got '$s'")
      }
      if (n <= 0) fail(s"$key must be a positive integer; got '$s'")
      n
    }

  /** Small shared pool for the fold runner's independent per-state
    * Spark jobs (touched-bucket probes, generation writes): a fold
    * trigger is a handful of ~100 ms jobs whose cost is scheduling
    * latency, not data — overlapping them cuts the per-trigger wall.
    * Daemon threads; actions on a SparkSession are thread-safe. */
  private lazy val foldEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        r => { val t = new Thread(r, "graft-fold"); t.setDaemon(true); t }))

  /** Run `tasks` concurrently on [[foldEc]] and wait until every one
    * has settled — bounded, so a wedged job fails the trigger instead
    * of hanging it (generous: harness jobs take seconds). Each task
    * runs under the caller's script functions. */
  private def settleAll[A](tasks: Seq[() => A]): Seq[scala.util.Try[A]] = {
    val fns = scriptFns
    scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(tasks)(t => scala.concurrent
        .Future { scriptFns = fns; t() }(foldEc)
        .transform(scala.util.Success(_))(foldEc))(
        scala.collection.BuildFrom.buildFromIterableOps, foldEc),
      scala.concurrent.duration.Duration(30,
        java.util.concurrent.TimeUnit.MINUTES))
  }

  /** Deploy a compiled app as a LIVE Structured Streaming topology over a
    * streaming events DataFrame (columns `event_id, ts_ns, user_id,
    * event_type, value, ts`) — the SiddhiProcess analog: the same text a
    * batch replay verifies runs as a continuous query. Returns the
    * UN-STARTED streaming DataFrame of the `out` query plus its required
    * output mode, requested ordering, and whether the caller must feed
    * watermark-flush sentinels ([[graft.engine.Streaming.FlushNs]]) so a
    * FINITE replay closes the last windows — callers pick the sink,
    * trigger, and checkpoint location (the restart contract lives there).
    *
    * Stage support (v1): stateless filter/projection chains (append),
    * ONE aggregation stage as the final query — global (complete mode)
    * or windowed timeBatch/cron/session (APPEND mode: the source-level
    * event-time watermark lets every pane emit exactly once when the
    * watermark passes its end, and its state row is EVICTED — bounded
    * state on a long-running stream, vs Complete mode's
    * keep-every-bucket-forever) — and pattern clauses via the per-key
    * NFA re-fold ([[Patterns.PatternBuilder.selectStream]], append; its
    * quantifier/absence restrictions and event-time-order precondition
    * apply). Chaining is plan composition on the streaming Dataset, so
    * Catalyst still optimizes the whole topology as one incremental
    * query — exactly the batch path's property, which is why batch
    * replay is a valid oracle for the deployed result.
    *
    * Watermark design: ONE `withWatermark("ts", <delay>)` node sits at
    * the SOURCE, above nothing (the delay is `graft.live.watermark`,
    * default 60 s; see [[watermarkNs]]) — so every event (and every flush
    * sentinel) reaches it before any user filter. User filters are
    * OR-extended with the sentinel region (`f OR ts >= flushCutoff`):
    * the predicate then references the event-time column, which stops
    * Catalyst's pushdown from moving it below the watermark node and
    * dropping a sentinel before it advances the watermark. Stateful
    * stages drop the sentinels themselves right above their
    * aggregation (`ts < flushCutoff`), and stateless stages carry the
    * watermarked `ts` (+ `ts_ns`) through their projections so a
    * downstream window can still bucket and evict by event time.
    *
    * Folded stages ([[Folded]]: table DML, unique:last, sort, …)
    * deploy through [[deployApp]] (a `foreachBatch` keyed MERGE cannot
    * be expressed as one unstarted DataFrame) — this entry fails fast
    * on them, and on an out query with `limit`/`offset`: those cut a
    * finished result, and an unbounded stream has no end to cut at. */
  def deployAppOn(src: DataFrame, app: String, out: String)
      : (DataFrame, OutputMode, Seq[Column], Boolean) = {
    val (ast, stage) = deployStages(src, app, out)
    stage match {
      case _: Folded =>
        fail("live deployment of this stage (table DML / unique:last / " +
          "sort / frequent) runs through deployApp (a foreachBatch keyed " +
          "fold) — deployAppOn returns a single unstarted DataFrame and " +
          "cannot express a folded sink")
      case Streamed(df, mode, _) =>
        if (ast.limit.nonEmpty || ast.offset.nonEmpty)
          fail("deployAppOn cannot apply `limit`/`offset`: they cut a " +
            "finished result, and an unbounded stream has no end to cut " +
            "at — deploy through deployApp or drop them")
        // Update mode (global agg): the caller's sink receives only the
        // groups each trigger changed and is expected to upsert them
        // keyed on the group columns — __ukey is the runner's internal
        // collapse handle, not part of the user-facing schema
        (if (mode == LiveMode.Update) df.drop("__ukey") else df,
          mode match {
            case LiveMode.Complete => OutputMode.Complete()
            case LiveMode.Update   => OutputMode.Update()
            case _                 => OutputMode.Append()
          },
          orderColsOf(ast), mode == LiveMode.AppendFlushed)
    }
  }

  /** How a [[LiveFold]] state is materialized between triggers, as
    * in-memory generations ([[Generations]]).
    *
    *  - [[FullState]]: the fold rewrites the WHOLE state every
    *    micro-batch. Reserved for states tiny by contract (sort(N)'s
    *    N rows) where rewrite cost is O(N), not O(data).
    *  - [[AppendState]]: the state only ever grows; the fold returns
    *    the batch's DELTA rows and the runner keeps them as a new
    *    generation. Per-trigger write cost is O(batch) by
    *    construction; reading the state unions the generations.
    *  - [[KeyedState]]: the fold is a per-key merge on `keys`. State
    *    rows carry a hash bucket of those keys; each trigger the
    *    runner computes the buckets the batch touches (`batchKeys`
    *    projects the batch's key values, cast to the state key types
    *    so both sides hash identically), hands the fold ONLY those
    *    buckets' rows, and writes only those buckets as the new
    *    generation. Per-trigger write cost is O(batch-touched
    *    buckets), not O(state); a bucket read scans the in-memory rows
    *    of the generation holding that bucket and filters on the
    *    bucket (bucket count rises with the key domain via
    *    `graft.live.stateBuckets`). */
  private[api] sealed trait StateMode
  private[api] case object FullState extends StateMode
  private[api] case object AppendState extends StateMode

  /** Test probe: when set, [[deployApp]]'s fold runner records
    * (generation, state name, rows written) for KEYED states so a
    * spec can assert per-trigger write cost tracks the batch's keys,
    * not the accumulated state size. */
  private[graft] var foldWriteProbe
      : Option[scala.collection.mutable.Buffer[(Int, String, Long)]] =
    None

  /** Test probe: when set, [[deployApp]]'s Update-mode collapse
    * records each trigger's emitted-row count so a spec can assert
    * per-trigger sink volume tracks the batch's changed groups, not
    * the total group count. */
  private[graft] var updateEmitProbe
      : Option[scala.collection.mutable.Buffer[Long]] = None

  /** Test probe: when set, [[deployApp]]'s fold runner records
    * (generation, state name, rows read) each time a fold pulls a
    * state's FULL relation, so a spec can assert per-trigger read
    * I/O tracks the live band + compacted base, not the accumulated
    * bucket history. */
  private[graft] var foldReadProbe
      : Option[scala.collection.mutable.Buffer[(Int, String, Long)]] =
    None

  /** Max distinct batch keys a keyed-state read collects to the
    * driver (see [[LiveState.fullForKeys]]): below it the key relation
    * becomes a LocalRelation (one probe job per trigger, semi-join
    * prune evaluates nothing); above it the read keeps the original
    * relation and only bucket ids cross the driver. A trigger's
    * distinct keys are bounded by its batch size, so at harness SF the
    * fast path always hits. Not a correctness switch: a partition of
    * the key collect past the cap ships one truncation marker instead
    * of its rows, so the driver receives at most partitions × cap rows
    * before it decides. */
  private[api] val keyLocalCap = 20000

  /** Label the Spark jobs `body` runs (thread-local `callSite.short`)
    * so a job-census listener can attribute a trigger's jobs to the
    * fold runner's sections instead of one opaque start site —
    * `python3 perfbench/run.py --workload <w> --seed 1 --seconds 8
    * --trace 1` reports them as its `fold.*` metrics. Zero-cost beyond
    * two local-property writes. */
  @inline private[api] def tagged[A](sp: SparkSession, tag: String)
      (body: => A): A = {
    val k = "callSite.short"
    val prev = sp.sparkContext.getLocalProperty(k)
    sp.sparkContext.setLocalProperty(k, tag)
    try body finally sp.sparkContext.setLocalProperty(k, prev)
  }

  /** Single-JOB, single-STAGE distinct of a one-int-column relation
    * (r18, guide §2.4): `.distinct().collect()` plans an Exchange, so
    * every per-trigger bucket probe paid a two-stage round trip for a
    * handful of ints. Partition-local sets + a driver-side union remove
    * the exchange; the sets are bounded by the bucket-id domain
    * (nBuckets), so driver volume is O(partitions × nBuckets) ints.
    * Sorted so downstream bucket lists stay deterministic. */
  private[api] def distinctIntsLocal(df: DataFrame): Seq[Int] =
    df.rdd.mapPartitions(it =>
      it.map(_.getInt(0)).toSet.iterator).collect().toSet.toSeq.sorted

  /** A collected key row's identity as Spark's key equality sees it:
    * −0.0 equals 0.0 and a `byte[]` compares by content — neither holds
    * for `Row`'s own equals/hashCode, so a hash-set dedup of raw rows
    * would keep both. */
  private[graft] def keyOf(r: org.apache.spark.sql.Row): Seq[Any] =
    r.toSeq.map {
      case d: Double if d == 0.0d => 0.0d
      case f: Float if f == 0.0f => 0.0f
      case b: Array[Byte] => b.toSeq
      case v => v
    }

  /** The first `cap` distinct rows of `rows` by [[keyOf]], in arrival
    * order, or None once more than `cap` distinct rows appear. */
  private[graft] def distinctKeys(rows: Iterator[org.apache.spark.sql.Row],
      cap: Int): Option[Vector[org.apache.spark.sql.Row]] = {
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], org.apache.spark.sql.Row]
    while (rows.hasNext && seen.size <= cap) {
      val r = rows.next(); seen.getOrElseUpdate(keyOf(r), r)
    }
    if (seen.size > cap) None else Some(seen.values.toVector)
  }

  /** [[deployApp]]'s state generations in executor memory: each write
    * is an eager `localCheckpoint` (MEMORY_AND_DISK: it spills rather
    * than failing, and is lost with its executor, failing the job that
    * reads it by name) under (state, generation). KEYED generations
    * carry the `__b` bucket column; `latest` maps (state, bucket) to
    * the generation holding that bucket's rows, -1 for a FullState.
    * Reads re-wrap a generation's plan into the reading session with
    * fresh attribute ids, as a file scan would. */
  private final class Generations(nBuckets: Int,
      schemaOf: Map[String, StructType]) {
    private val gens = scala.collection.mutable.Map
      .empty[(String, Int), DataFrame]
    val latest = scala.collection.mutable.Map.empty[(String, Int), Int]
    def bucketCol(keys: Seq[String]): Column = {
      val h = hash(keys.map(col): _*)
      (h % nBuckets + lit(nBuckets)) % nBuckets
    }
    def has(n: String): Boolean = latest.keysIterator.exists(_._1 == n)
    /** Checkpoint `df`, projected to state `n`'s schema (plus `__b`
      * when `keys` are given), as generation `g`. Only a column whose
      * type differs beyond nullability is cast (a cast cannot make a
      * nested field non-null). Thread-safe, so sibling states write
      * concurrently. */
    def put(n: String, g: Int, df: DataFrame, keys: Seq[String] = Nil)
        : DataFrame = {
      val have = df.schema.map(f => f.name -> f.dataType.catalogString).toMap
      val c = df.select(schemaOf(n).fields.toSeq.map(f =>
          if (have.get(f.name).contains(f.dataType.catalogString)) col(f.name)
          else col(f.name).cast(f.dataType).as(f.name)) ++
          (if (keys.isEmpty) Nil else Seq(bucketCol(keys).as("__b"))): _*)
        .localCheckpoint(eager = true)
      synchronized { gens((n, g)) = c }
      c
    }
    /** State `n`'s rows from generations `gs`, each restricted to its
      * listed buckets (none listed = the whole generation). */
    private def read(sp: SparkSession, n: String,
        gs: Seq[(Int, Seq[Int])]): DataFrame =
      gs.map { case (g, bs) =>
        val d = org.apache.spark.sql.GraftSqlBridge.ofRows(sp,
          org.apache.spark.sql.GraftSqlBridge.analyzed(
            synchronized(gens((n, g)))) match {
            case m: org.apache.spark.sql.catalyst.analysis
                .MultiInstanceRelation => m.newInstance()
            case p => p
          })
        (if (bs.isEmpty) d else d.where(col("__b").isin(bs: _*)))
          .drop("__b")
      }.reduceOption(_ unionByName _).getOrElse(emptyOf(sp, schemaOf(n)))
    def keyed(sp: SparkSession, n: String, bs: Seq[Int]): DataFrame =
      read(sp, n, bs.flatMap(b => latest.get((n, b)).map(_ -> b))
        .groupMap(_._1)(_._2).toSeq.sortBy(_._1))
    /** State `n`'s whole accumulated rows under mode `m`. */
    def full(sp: SparkSession, n: String, m: StateMode): DataFrame =
      m match {
        case FullState => read(sp, n, latest.get((n, -1)).map(_ -> Nil).toSeq)
        case AppendState => read(sp, n, synchronized(gens.keys.collect {
          case (`n`, g) => g }).toSeq.sorted.map(_ -> Nil))
        case _: KeyedState => keyed(sp, n, 0 until nBuckets)
      }
    /** Unpersist state `n`'s generations that no bucket points at. */
    def release(n: String): Unit = {
      val live = latest.collect { case ((`n`, _), g) => g }.toSet
      synchronized(gens.keys.filter(k => k._1 == n && !live(k._2)).toList)
        .foreach(unpersist)
    }
    /** Unpersist every state's generation `g` (a failed trigger). */
    def drop(g: Int): Unit =
      synchronized(gens.keys.filter(_._2 == g).toList).foreach(unpersist)
    private def unpersist(k: (String, Int)): Unit =
      synchronized(gens.remove(k)).foreach(_.queryExecution.analyzed
        .collectFirst { case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.unpersist(blocking = false) })
  }

  private[api] final case class KeyedState(keys: Seq[String],
      batchKeys: (SparkSession, String, DataFrame) => DataFrame,
      // every N generations the runner hands the fold the WHOLE state
      // as its slice (touched = all buckets) and the fold may rewrite
      // it entirely — the compaction lever that lets a time-banded
      // partial store shed frozen buckets into a compacted base
      // without per-trigger O(history) reads or writes. None = the
      // plain keyed merge (touched buckets only, every trigger).
      compactEvery: Option[Int] = None)
    extends StateMode

  /** A [[LiveFold]] state as the fold sees it: `slice` is what the
    * fold may MERGE INTO and must return the replacement of (the
    * touched buckets for [[KeyedState]], the whole state for
    * [[FullState]], empty for [[AppendState]] — append folds return
    * their delta); `full` lazily reads the entire accumulated state
    * for folds that must JOIN against it; `fullFor` restricts that
    * read to the buckets a given key-value relation hashes into
    * ([[KeyedState]] stores only — other modes fall back to `full`),
    * so a join that can name its key domain up front (the enrichment
    * read: only batch-event keys can match) scans the generations of
    * O(touched buckets) instead of the whole accumulated state. */
  private[api] final case class LiveState(slice: DataFrame,
      full: () => DataFrame,
      // true on the generations where this state's [[KeyedState]]
      // compactEvery fired: the slice IS the whole state and the
      // fold's return replaces every bucket (rows it drops are gone)
      compacting: Boolean = false,
      // keyDf columns must cover the state's key columns BY NAME
      // (cast to the state's key types) — the runner hashes them with
      // the same bucketCol the write path uses. Returns the
      // bucket-restricted state AND the key relation the caller should
      // prune with: when the batch's distinct key set is small the
      // runner hands back a COLLECTED LocalRelation (one Spark job
      // total, and the consumer's semi-join needs no re-evaluation of
      // the batch pipeline); above the cap it returns `keyDf`
      // unchanged (the bounded-driver scale path).
      fullForKeys: Option[DataFrame => (DataFrame, DataFrame)] = None) {
    def fullFor(keyDf: DataFrame): DataFrame = keyedRead(keyDf)._1
    def keyedRead(keyDf: DataFrame): (DataFrame, DataFrame) =
      fullForKeys.fold((full(), keyDf))(f => f(keyDf))
  }

  /** A live stage whose semantics are a per-micro-batch keyed FOLD
    * rather than one incremental Spark plan: table DML (keyed MERGE),
    * `unique:last` (keep-last upsert), `sort(N)` (running top-N),
    * `frequent(N)` (per-key algebraic components), and the enrichment
    * join reading a DML-maintained table. [[deployApp]] runs
    * `fold(spark, dir, states, batch)` in `foreachBatch` over in-memory
    * generations — one NAMED state per entry in `schemas`, so a fold
    * can carry several pieces of state (the maintained table AND the
    * accumulated enrichment output) — then `finish(spark, states)`
    * shapes the final table; [[deployApp]] then orders it and applies
    * the out query's offset and limit, once, over the finished result.
    * Each state stays one-batch-lineage deep
    * (an eager local checkpoint per write; not durable across a
    * restart), and its storage/rewrite granularity is its
    * [[StateMode]]. State is bounded by contract: the
    * table/unique key domain, N rows, or the key domain's component
    * rows (the enrichment OUTPUT accumulation mirrors a sink, not
    * operator state). */
  private[api] final case class LiveFold(feed: DataFrame,
      schemas: Seq[(String, StructType, StateMode)],
      fold: (SparkSession, String, Map[String, LiveState], DataFrame)
        => Map[String, DataFrame],
      finish: (SparkSession, Map[String, DataFrame]) => DataFrame,
      // true when the feed contains an OUTER watermarked join: its
      // null-padded rows only materialize once the watermark passes
      // their band, so the runner must append the two flush-sentinel
      // batches after the data (the sentinels are dropped above the
      // join — they advance the watermark and produce no feed rows)
      needsFlush: Boolean = false,
      // the script functions defined before the out stage: the runner
      // pins them on its micro-batch thread and before finish, where
      // the fold closures re-render SQL
      fns: Map[String, ScriptFn] = Map.empty)

  /** How a live stage's streaming plan reaches its sink: plain
    * append; append whose last windows close on the flush sentinels
    * ([[graft.engine.Streaming.flushSentinels]]); Complete
    * re-emission; Update mode, whose `__ukey` column is the upsert
    * key. */
  private[api] sealed trait LiveMode
  private[api] object LiveMode {
    case object Append extends LiveMode
    case object AppendFlushed extends LiveMode
    case object Complete extends LiveMode
    case object Update extends LiveMode
  }

  /** What one live stage compiles to. [[Streamed]]: an incremental
    * streaming plan; `carried` names the event-time columns it keeps
    * for downstream windows, which its sink drops. [[Folded]]: a
    * per-micro-batch [[LiveFold]] — downstream stages see
    * `outSchema`, and `fold` is built only for the out stage. */
  private[api] sealed trait LiveStage
  private[api] final case class Streamed(df: DataFrame, mode: LiveMode,
      carried: Seq[String] = Nil) extends LiveStage
  private[api] final case class Folded(outSchema: StructType,
      fold: () => LiveFold) extends LiveStage

  /** [[StateMode]] of a DML-maintained table state: insert-only DML
    * appends (the fold's output IS the batch delta when folded into an
    * empty slice), keyed DML (delete/update/upsert) bucket-merges on
    * its `on` key columns. The batch-key probe replays the DML stage's
    * filter+select over the batch and projects the `on` RHS
    * expressions CAST to the table key types, so batch rows and state
    * rows hash into the same buckets. */
  private[api] def dmlStateMode(ast: Ast, act: Action, schema: StructType,
      srcName: String,
      envOf: (SparkSession, String, DataFrame) => Map[String, DataFrame])
      : StateMode = {
    val onOpt = act match {
      case _: InsertInto           => None
      case UpdateTable(_, _, on)   => Some(on)
      case UpsertTable(_, _, on)   => Some(on)
      case DeleteTable(_, on)      => Some(on)
    }
    onOpt match {
      case None => AppendState
      case Some(on) =>
        val keys = keyEqsOf(on, act.target)
        KeyedState(keys.map(_._1), (sp, d2, batch) => {
          val base = writerSource(sp, d2, ast, srcName, envOf(sp, d2, batch))
          val items = itemsOf(expandStar(ast, base.columns))
          val seld = base.select(items.map { case (it, a, _) =>
            expr(sqlOf(it.e)).as(a) }: _*)
          seld.select(keys.map { case (tc, rhs) =>
            expr(rhs).cast(schema(tc).dataType).as(tc) }: _*)
        })
    }
  }

  /** [[dmlStateMode]] for a MULTI-writer table: keyed DML
    * bucket-merges on the shared key columns with the batch-key probe
    * the UNION of every writer's filter+select key projection —
    * `delete` sweepers contribute their key projection too, so the
    * buckets a tombstone wipes are read into (and rewritten by) the
    * fold; insert-only writer groups append, UNLESS the caller
    * supplies `fallbackKeys` (the enrichment fold passes its JOIN key
    * columns): an insert-only log read per-event wants a KEYED store
    * so `fullFor` can bucket-restrict the per-trigger read — an
    * insert's key values are its own key-column outputs, so the
    * keyed merge (slice ∪ batch rows) IS the append. */
  private[api] def dmlStateModeMulti(writers: List[DmlWriter],
      tName: String, schema: StructType,
      envOf: (SparkSession, String, DataFrame) => Map[String, DataFrame],
      fallbackKeys: Seq[String] = Nil)
      : StateMode = {
    val keysM = writers.map(_._2).collectFirst {
      case UpsertTable(_, _, on) =>
        keyEqsOf(on, tName).map(_._1).distinct.sorted
      case DeleteTable(_, on) =>
        keyEqsOf(on, tName).map(_._1).distinct.sorted
    }.getOrElse(fallbackKeys.distinct.sorted.toList)
    if (keysM.isEmpty) AppendState
    else KeyedState(keysM, (sp, d2, batch) => {
      val benv = envOf(sp, d2, batch)
      writers.map { case (wAst, wAct, _, wSrc) =>
        val onO = wAct match {
          case UpsertTable(_, _, o) => Some(o)
          case DeleteTable(_, o)    => Some(o)
          // an INSERT row's key values are its own key-column outputs
          case _: InsertInto        => None
          case a2 => fail("multi-writer table DML (v1) mixes only " +
            s"`insert into`, `update or insert` and `delete` " +
            s"writers; got '${a2.getClass.getSimpleName}'")
        }
        val b1 = writerSource(sp, d2, wAst, wSrc, benv)
        val items2 = itemsOf(expandStar(wAst, b1.columns))
        val seld = b1.select(items2.map { case (it, a2, _) =>
          expr(sqlOf(it.e)).as(a2) }: _*)
        onO match {
          case Some(on) =>
            val keys = keyEqsOf(on, tName)
            seld.select(keysM.map { kc =>
              expr(keys.find(_._1 == kc).get._2)
                .cast(schema(kc).dataType).as(kc) }: _*)
          case None =>
            seld.select(keysM.map { kc =>
              col(kc).cast(schema(kc).dataType).as(kc) }: _*)
        }
      }.reduce(_ unionByName _)
    })
  }

  /** LIVE windowed-aggregate table DML (the canonical Siddhi store
    * pattern — `from S#window.timeBatch(T) select k, agg(x) group by k
    * update or insert into T`, deployed): fold state is the
    * per-(window bucket ∪ group keys) algebraic PARTIALS of the flush
    * aggregates — a bucket that spans micro-batches merges
    * componentwise (the FoldAlg algebra), so the fold is
    * chunking-invariant where a per-batch [[applyDml]] would
    * double-apply the straddling bucket. finish finalizes the flush
    * rows (one per bucket × group, `__g_ord` = bucket start) and runs
    * the SAME emission-order merge as the batch compile
    * ([[applyEmissions]]), which is why the batch oracle is the live
    * gate's truth. State size = the flush relation itself (bucket ×
    * keys — the contract the live grain cascade already carries);
    * per-trigger write cost O(batch-touched buckets) via KeyedState. */
  private[api] def windowedDmlFold(feed: DataFrame, ast: Ast, act: Action,
      schema: StructType, tNs: Long): LiveFold = {
    val ss = ast.stream.asInstanceOf[SingleStream]
    val items = itemsOf(ast)
    val outCols = items.map(_._2)
    flushPartialFold(feed, ss.filter, ast.groupBy, items, tNs,
      (sp, flush) => {
        val emis = flush.select(outCols.map(col) :+
          struct((col("__wb") * lit(tNs)).cast("long").as("ts_ns"),
            lit(0L).as("event_id")).as("__g_ord"): _*)
        applyEmissions(act, schema, emptyOf(sp, schema), emis, outCols)
      })._1
  }

  /** LIVE deployment of a multi-writer table with AT LEAST ONE
    * windowed writer (r14, deleting the "windowed writers stay
    * single-writer" live bound — e.g. the range-partition
    * windowed-DML split, two user-authored windowed stores, or a
    * windowed store MIXED with per-event writers and sweepers on one
    * table): each WINDOWED writer holds one flush-partial state — the
    * [[windowedDmlFold]] construction per writer, cross-trigger
    * bucket partials merging componentwise — and each PER-EVENT
    * writer holds an APPEND-ONLY emission log (its dmlEmissions
    * relation per trigger, the delta the AppendState mode keeps as
    * generations — O(events) rows like the event-log
    * enrichment stores, never driver state). Finish reconstructs
    * every writer's emission relation (flush emissions get `__g_ord`
    * = (bucket start, 0, statement index); logged per-event emissions
    * keep their (ts_ns, event_id) and gain the statement index —
    * exactly how applyDmlMulti extends them) and feeds
    * [[mergeEmissions]], the BATCH multi-writer merge tail: live ≡
    * batch by SHARED code, not re-implementation, including the
    * flush-between-events interleave the per-trigger incremental
    * merge could not express. All-per-event groups keep the existing
    * per-trigger applyDmlMulti fold (O(table keys) state — strictly
    * smaller than a log). */
  private[api] def multiWindowedDmlFold(srcTs: DataFrame,
      writers: List[DmlWriter], schema: StructType,
      envOf: (SparkSession, String, DataFrame) => Map[String, DataFrame])
      : LiveFold = {
    val sp0 = srcTs.sparkSession
    val protoEnv = envOf(sp0, "", emptyOf(sp0, srcTs.schema))
    // per writer: Left(flush pieces) for windowed, Right(emission-log
    // schema + output columns) for per-event
    val infos: List[Either[FlushPieces, (StructType, Seq[String])]] =
      writers.map { case (wAst, act2, _, wSrc) =>
        val ss = wAst.stream.asInstanceOf[SingleStream]
        ss.window match {
          case Some(wtb @ TimeBatch(tn, _)) =>
            requireEpochTb(wtb, "live multi-writer windowed DML")
            Left(flushPiecesOf(loadTable(sp0, "", wSrc, protoEnv),
              ss.filter, wAst.groupBy, itemsOf(wAst), tn))
          case Some(w) => fail("live multi-writer windowed DML: " +
            s"#window.timeBatch(T) only (got '#window.${w.name}')")
          case None =>
            val (protoSel, outCols) =
              dmlEmissions(sp0, "", wAst, act2, schema, protoEnv)
            Right((protoSel.schema, outCols))
        }
      }
    def emisOf(st: Map[String, DataFrame])
        : List[(DataFrame, Seq[String], Action)] =
      writers.zipWithIndex.map { case ((_, act2, _, _), i) =>
        infos(i) match {
          case Left(p) =>
            val sel = p.flushOf(st(s"w$i")).select(p.outCols.map(col) :+
              struct((col("__wb") * lit(p.tNs)).cast("long").as("ts_ns"),
                lit(0L).as("event_id"), lit(i.toLong).as("w"))
                .as("__g_ord"): _*)
            (sel, p.outCols, act2)
          case Right((_, outCols)) =>
            (st(s"w$i").withColumn("__g_ord",
              struct(col("__g_ord.ts_ns"), col("__g_ord.event_id"),
                lit(i.toLong).as("w"))), outCols, act2)
        }
      }
    // deploy-time probe: the merge plan must build over empty states
    mergeEmissions(writers, schema, emptyOf(sp0, schema),
      emisOf(writers.indices.map(i => s"w$i" -> emptyOf(sp0,
        infos(i).fold(_.stateSchema, _._1))).toMap))
    LiveFold(srcTs,
      writers.indices.map(i => (s"w$i",
        infos(i).fold(_.stateSchema, _._1),
        infos(i) match {
          case Left(p) => KeyedState(p.keys, (sp, d2, batch) =>
            p.probeSel(loadTable(sp, d2, writers(i)._4,
              envOf(sp, d2, batch))))
          case Right(_) => AppendState
        })),
      (sp, d2, st, batch) => {
        val env = envOf(sp, d2, batch)
        writers.indices.map { i =>
          s"w$i" -> (infos(i) match {
            case Left(p) => p.merge(st(s"w$i").slice,
              p.partialOf(loadTable(sp, d2, writers(i)._4, env)))
            case Right(_) =>
              dmlEmissions(sp, d2, writers(i)._1, writers(i)._2,
                schema, env)._1
          })
        }.toMap
      },
      (sp, st) => mergeEmissions(writers, schema,
        emptyOf(sp, schema), emisOf(st)))
  }

  /** Per-writer machinery of one flush-partial fold: derived once at
    * deploy from (filter, groupBy, items, tNs) over a prototype feed
    * frame, reused per trigger. Factored out of [[flushPartialFold]]
    * (r14) so [[multiWindowedDmlFold]] can hold one instance per
    * writer of an all-windowed multi-writer group. */
  private[api] final case class FlushPieces(stateSchema: StructType,
      keys: Seq[String], tNs: Long, outCols: Seq[String],
      partialOf: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      flushOf: DataFrame => DataFrame,
      probeSel: DataFrame => DataFrame)

  private[api] def flushPiecesOf(proto: DataFrame, filter: Option[Expr],
      groupBy: List[String], items: List[(SelItem, String, Boolean)],
      tNs: Long): FlushPieces = {
    val fp = FoldAlg.plan(items, "__wb" +: groupBy)
    def keyedSel(df: DataFrame): DataFrame = {
      val f = filter.fold(df)(ff => df.where(expr(sqlOf(ff))))
      f.select(expr(s"ts_ns div ${tNs}L").as("__wb") +:
        (groupBy.map(col) ++ fp.argCols()): _*)
    }
    def partialOf(df: DataFrame): DataFrame = fp.partial(keyedSel(df))
    FlushPieces(partialOf(proto).schema, fp.keys, tNs, items.map(_._2),
      partialOf = partialOf,
      merge = fp.merge,
      // the finalized flush relation: __wb + output attrs (group keys
      // appear among the outputs — the select-item checks enforce it)
      flushOf = fp.finalized(_, Seq(col("__wb"))),
      probeSel = df => keyedSel(df).select(fp.keyCols: _*))
  }

  /** The shared core of the live windowed folds ([[windowedDmlFold]],
    * rate-over-window): per-(bucket ∪ group keys) algebraic flush
    * PARTIALS merged componentwise per trigger; `finish` receives the
    * finalized flush relation (`__wb` + group keys + output attrs) —
    * also evaluated over an EMPTY flush at build time, so a bad stage
    * fails at deploy and the caller gets the result prototype. */
  private[api] def flushPartialFold(feed: DataFrame, filter: Option[Expr],
      groupBy: List[String], items: List[(SelItem, String, Boolean)],
      tNs: Long, finish: (SparkSession, DataFrame) => DataFrame)
      : (LiveFold, DataFrame) = {
    val empty = emptyOf(feed.sparkSession, feed.schema)
    val p = flushPiecesOf(empty, filter, groupBy, items, tNs)
    // deploy-time validation + the caller's result prototype
    val proto = finish(feed.sparkSession, p.flushOf(p.partialOf(empty)))
    (singleFold(feed, p.stateSchema,
      (_, _, acc, batch) => p.merge(acc, p.partialOf(batch)),
      (sp, acc) => finish(sp, p.flushOf(acc)),
      KeyedState(p.keys, (_, _, batch) => p.probeSel(batch))), proto)
  }

  /** Batch twin of the stateless stage environment: re-derives every
    * stateless derived stream (`defs`, in textual order) from one
    * micro-batch of the SOURCE via the batch compiler (stateless plans
    * are chunking-invariant, so the derived batch rows ARE the derived
    * stream's rows for that trigger). Plan construction only — nothing
    * executes until used. */
  private[api] def batchEnv(sp: SparkSession, d2: String, rawBatch: DataFrame,
      defs: List[(String, Ast)]): Map[String, DataFrame] =
    defs.foldLeft(Map[String, DataFrame]("events" -> rawBatch)) {
      case (benv, (t, a)) =>
        val df = compileAst(sp, d2, a, benv)
        benv + (t -> benv.get(t).fold(df)(_.unionByName(df)))
    }

  /** The one-state [[LiveFold]] shape every pre-enrichment fold stage
    * uses (table DML, unique:last, sort, frequent). */
  private[api] def singleFold(feed: DataFrame, schema: StructType,
      fold: (SparkSession, String, DataFrame, DataFrame) => DataFrame,
      finish: (SparkSession, DataFrame) => DataFrame,
      mode: StateMode = FullState): LiveFold =
    LiveFold(feed, Seq(("state", schema, mode)),
      (sp, d, st, b) => Map("state" -> fold(sp, d, st("state").slice, b)),
      (sp, st) => finish(sp, st("state")))

  /** A [[KeyedState]] state's bucket-restricted read
    * ([[LiveState.fullForKeys]]) in generation `g1`: the key values
    * hash with the SAME bucketCol the write path tags rows with, so
    * only their buckets' latest generations are scanned — O(batch
    * key-buckets) generations per trigger, not O(state). A caller
    * whose key relation doesn't cover the state keys by name gets the
    * full read — and RECORDS it (an unexpected full read must show in
    * the read-prune gate, not pass silently). */
  private def keyedRead(sp: SparkSession, gens: Generations, n: String,
      m: StateMode, ks: Seq[String], g1: Int)(kdf: DataFrame)
      : (DataFrame, DataFrame) =
    if (!ks.forall(kdf.columns.contains)) {
      foldReadProbe.foreach(_ += ((g1, s"__fullread_fallback:$n", -1L)))
      (gens.full(sp, n, m), kdf)
    } else if (!gens.has(n)) {
      // no generation of this state yet (every first trigger): the
      // pruned read is empty whatever the keys are — skip the keyread
      // job
      (gens.keyed(sp, n, Nil), kdf)
    } else {
      // ONE one-STAGE job (r18: partition-local + driver distinct by
      // [[keyOf]], no Exchange): distinct keys + their bucket. Small key
      // sets (every harness batch) come back as a LocalRelation so the
      // caller's semi-join re-evaluates nothing; past keyLocalCap only
      // bucket ids + the original relation. A partition past the cap
      // ships a truncation marker (None): the global distinct passes it
      // too, and the driver receives ≤ partitions × keyLocalCap rows
      val kCols = kdf.columns.toSeq
      val rows = tagged(sp, s"keyread:$n") {
        val parts = kdf
          .select(kCols.map(col) :+
            gens.bucketCol(ks).cast("int").as("__b"): _*)
          .rdd.mapPartitions(it =>
            Iterator.single(distinctKeys(it, keyLocalCap)))
          .collect()
        if (parts.contains(None)) None
        else distinctKeys(parts.iterator.flatten.flatten, keyLocalCap)
      }
      rows match {
        case None =>
          // over-cap: RECORD the fallback (r15 — the scale path must
          // show in the probe, so a rehearsal can assert it actually
          // fired); the count records the cap crossing
          foldReadProbe.foreach(
            _ += ((g1, s"__keycap_fallback:$n", keyLocalCap + 1L)))
          (gens.keyed(sp, n, tagged(sp, s"keyread2:$n")(
            distinctIntsLocal(kdf.select(
              gens.bucketCol(ks).cast("int").as("__b"))))), kdf)
        case Some(rs) =>
          (gens.keyed(sp, n, rs.map(_.getAs[Int]("__b")).distinct),
            sp.createDataFrame(
              java.util.Arrays.asList(rs.map(r =>
                org.apache.spark.sql.Row.fromSeq(
                  r.toSeq.dropRight(1))): _*),
              StructType(kdf.schema.fields)))
      }
    }

  /** Harness-side deployment: feed the events table through a
    * MemoryStream in `chunks` micro-batches, run the deployed topology to
    * completion on a memory sink, return the final (ordered) table —
    * the live twin the batch-replay oracle checks.
    *
    * `graft.live.fastGates` (set by [[graft.Bench]] only — Verify and
    * `sbt test` keep the full replay) caps the replay at 2
    * micro-batches: every live channel is chunking-invariant by
    * spec-pinned contract, so the RESULT is identical and only the
    * fixed per-trigger machinery cost (checkpoint round trips, state
    * generations) halves — the suite-cost lever the r11 verdict asked
    * for, with zero correctness surface change. Two chunks, not one,
    * so every cross-trigger state merge stays exercised even in the
    * fast profile.
    *
    * Each replay query starts under the harness conf below, set on
    * `spark` around its `start()` only
    * ([[graft.engine.Streaming.startScoped]]); everything else here —
    * compile, `finish`, the final reads — runs under the caller's own
    * conf. */
  def deployApp(spark: SparkSession, dir: String, app: String, out: String,
                chunks: Int = 4): DataFrame = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val chunksEff =
      if (spark.conf.getOption("graft.live.fastGates").contains("true"))
        math.min(chunks, 2)
      else chunks
    // state bucket count for the fold runner and the Update-mode sink.
    // Default 4 (r18; was 16): per-trigger cost has a component per
    // touched bucket (probe and read fan-out), and at replay
    // granularity 16 buckets measured ~300-800 ms of 16-task stages per
    // write job. Results are bucketing-invariant (internal layout only;
    // oracle-pinned). A real deployment sizes `graft.live.stateBuckets`
    // to its key domain (the per-trigger write cost O(touched buckets)
    // contract needs bucket count >> concurrent hot keys at 100 TB).
    val nBuckets =
      positiveIntConf(spark, "graft.live.stateBuckets").getOrElse(4)
    val rows = graft.engine.Streaming.feedRows(spark, dir)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Cep.Ev]
    val src = ms.toDF()
      .select(col("eventId").as("event_id"), col("tsNs").as("ts_ns"),
        col("userId").as("user_id"), col("eventType").as("event_type"),
        col("value"))
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val (outAst, stage) = deployStages(src, app, out)
    // HARNESS scratch: streaming checkpoints (offsets/commits/state
    // deltas, written once per trigger) go under the scratch root; what
    // each file costs is set out at graft.engine.Streaming.FsCheckpoints.
    // A REAL deployment points this at durable storage instead
    val ckptRoot = java.nio.file.Paths.get(
      graft.engine.Streaming.scratchDir("graft_ckpt"))
    def ckpt(tag: String): String = s"$ckptRoot/$tag"
    // a real deployment (deployAppOn) starts under its own conf
    def start(q: => StreamingQuery): StreamingQuery =
      graft.engine.Streaming.startScoped(spark,
        // replay-harness shuffle width: 4 keeps per-trigger
        // checkpoint-file overhead low for the (majority) light
        // topologies. A real deployment sizes this to its cluster.
        "spark.sql.shuffle.partitions" -> "4",
        // AQE OFF (r17). Every per-trigger job here (probe collects,
        // keyed-state reads, fold writes) runs over a few KB-to-MB of
        // state/batch data, where AQE's one-job-per-query-stage
        // materialization only multiplies driver scheduling round
        // trips — re-measured after the r17 batch-persist change:
        // interleaved A/B over 8 fold gates, AQE-off won 7/8 by 5-30%
        // (the r14 A/B that called it neutral predates the persist,
        // when re-executed feed plans dominated). A real deployment
        // with non-toy per-trigger volumes wants AQE for adaptive
        // broadcast/skew handling on the fold joins.
        "spark.sql.adaptive.enabled" -> "false",
        graft.engine.Streaming.NoDataOff)(q)
    def replay(q: StreamingQuery, flush: Boolean): Unit =
      graft.engine.Streaming.replay(ms, q, rows, chunksEff,
        if (flush) graft.engine.Streaming.flushSentinels else Nil)
    // each branch yields the finished result; the out query's order by,
    // offset and limit apply once, over it, as in the batch compile
    try orderOffsetLimit(outAst, stage match {
        case Folded(_, build) =>
          val lf = build()
          // folded stage LIVE (table DML / unique:last / sort /
          // frequent / enrichment): every micro-batch folds into the
          // accumulated state, held between triggers as in-memory
          // generations (eager local checkpoints, [[Generations]]), so
          // lineage stays one-batch deep. Generations are written at
          // each state's [[StateMode]] granularity: KEYED states are
          // hash-bucketed and only the buckets the batch touches are
          // read into the fold and rewritten (per-trigger write cost
          // O(batch-touched buckets), not O(state)); APPEND states
          // write the batch delta only; FULL states (tiny by
          // contract) rewrite whole.
          var gen = 0
          val gens = new Generations(nBuckets,
            lf.schemas.map { case (n, s2, _) => n -> s2 }.toMap)
          def allStates(sp: SparkSession): Map[String, DataFrame] =
            lf.schemas.map { case (n, _, m) => n -> gens.full(sp, n, m) }
              .toMap
          // decided ONCE per deployment from the feed's logical plan:
          // a feed carrying a join / aggregation / window / stateful
          // map is expensive enough that each trigger caches its batch
          // (see the persist note inside the foreachBatch below)
          val cacheFeed = {
            import org.apache.spark.sql.catalyst.plans.logical._
            lf.feed.queryExecution.logical.collectFirst {
              case _: Join => (); case _: Aggregate => ()
              case _: Window => (); case _: FlatMapGroupsWithState => ()
            }.nonEmpty
          }
          val q = start(lf.feed.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt("fold"))
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val sp = batch.sparkSession
              // the fold closures re-render SQL on this thread
              scriptFns = lf.fns
              // persist the trigger's batch ONCE when the feed plan is
              // worth not re-running: every consumer below — the
              // per-state bucket probes, keyedRead, the fold, and each
              // state's write — otherwise RE-EXECUTES the whole
              // micro-batch plan per action, the documented foreachBatch
              // hazard the Update-mode sink already guards against
              // (r17 per-site job census: probe:state ≈ write:state ≈
              // 0.6 s EACH on the stream-stream-join topologies = one
              // full plan execution per job; a `perfbench/run.py
              // --trace 1` run reports this census as its fold.*
              // metrics). Feeds that are a bare projection of the
              // MemoryStream batch are cheaper to re-run than to
              // cache, so only stateful/join/window feeds persist.
              if (cacheFeed) batch.persist()
              try {
              // buckets each keyed state's merge can touch, from the
              // batch's key values (a compactEvery generation touches
              // ALL buckets so the fold may rewrite the state whole).
              // The probes are independent ~100 ms jobs, run
              // concurrently to overlap their scheduling latency
              val touched: Map[String, Seq[Int]] = settleAll(
                lf.schemas.collect {
                  case (n, _, KeyedState(keys, batchKeys, ce)) => () =>
                    n -> (if (ce.exists(e => (gen + 1) % e == 0))
                        (0 until nBuckets): Seq[Int]
                      else if (!gens.has(n))
                        // no generation of this state exists yet (every
                        // first trigger): there is nothing to read
                        // whatever the batch's keys are, and the write
                        // side tags every row with its bucket regardless
                        // — so skip the probe JOB and claim all buckets
                        (0 until nBuckets): Seq[Int]
                      else tagged(sp, s"probe:$n")(
                        distinctIntsLocal(batchKeys(sp, dir, batch)
                          .select(gens.bucketCol(keys).cast("int")
                            .as("__b")))))
                }).map(_.get).toMap
              val compactingNow: Set[String] = lf.schemas.collect {
                case (n, _, KeyedState(_, _, Some(e)))
                    if (gen + 1) % e == 0 => n
              }.toSet
              val states = lf.schemas.map { case (n, sch, m) =>
                n -> LiveState(
                  m match {
                    case FullState => gens.full(sp, n, m)
                    case AppendState => emptyOf(sp, sch)
                    case _: KeyedState => gens.keyed(sp, n, touched(n))
                  },
                  () => {
                    val f = gens.full(sp, n, m)
                    foldReadProbe.foreach(_ += ((gen + 1, n, f.count())))
                    f
                  },
                  compacting = compactingNow(n),
                  fullForKeys = m match {
                    case KeyedState(ks, _, _) =>
                      Some(keyedRead(sp, gens, n, m, ks, gen + 1) _)
                    case _ => None
                  })
              }.toMap
              val next = lf.fold(sp, dir, states, batch)
              val g1 = gen + 1
              // state writes run CONCURRENTLY, like the probes. Each
              // returns the buckets its generation now holds (-1 = the
              // whole state; none for an append delta, whose
              // generations all stay). A failed write drops its
              // siblings' checkpoints before rethrowing, so `latest`
              // (advanced on this thread only) never sees the trigger
              val written =
                try settleAll(lf.schemas.collect {
                  // the fold is a per-key merge, so its output holds
                  // exactly the touched buckets' new content; untouched
                  // buckets keep their prior generation — and an
                  // untouched STATE (a compacted base between
                  // compactions) skips its write entirely
                  case (n, _, m) if (m match {
                      case _: KeyedState => touched(n).nonEmpty
                      case _ => true }) => () => {
                    val keys = m match {
                      case KeyedState(ks, _, _) => ks; case _ => Nil }
                    val c = tagged(sp, s"write:$n")(
                      gens.put(n, g1, next(n), keys))
                    // probe appends cross future threads — synchronize
                    // the buffer (test-only path)
                    if (keys.nonEmpty) foldWriteProbe.foreach { b =>
                      val k = c.count()
                      b.synchronized { b += ((g1, n, k)) }
                    }
                    n -> (m match {
                      case FullState => Seq(-1)
                      case AppendState => Nil
                      case _ => touched(n)
                    })
                  }
                }).map(_.get)
                catch { case e: Throwable => gens.drop(g1); throw e }
              for ((n, held) <- written if held.nonEmpty) {
                held.foreach(b => gens.latest((n, b)) = g1)
                gens.release(n)
              }
              gen = g1
              } finally { if (cacheFeed) batch.unpersist(); () }
            }.start())
          // outer-join feeds flush (the stages channel's exact rule)
          // so the tail's null-padded rows materialize before finish
          replay(q, lf.needsFlush)
          scriptFns = lf.fns
          lf.finish(spark, allStates(spark))
        case Streamed(df, LiveMode.Update, _) =>
          // UPDATE-mode global aggregation: the stream emits only the
          // groups each trigger changed; the keyed upsert sink (last
          // write per __ukey wins) keeps the SAME hash-bucketed
          // in-memory generations the fold runner uses — each trigger
          // rewrites only the buckets its changed groups hash into, so
          // BOTH per-trigger sink volume (O(changed groups)) and
          // per-trigger write cost (O(touched buckets)) survive scale,
          // and nothing accumulates on the driver.
          val gensU = new Generations(nBuckets, Map("u" -> df.schema))
          var genU = 0
          val q = start(df.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt("update"))
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val sp = batch.sparkSession
              // persist: the batch feeds the touched-bucket probe, the
              // anti-join, and the union — one evaluation
              batch.persist()
              try {
                updateEmitProbe.foreach(_ += batch.count())
                val touched = distinctIntsLocal(batch.select(
                  gensU.bucketCol(Seq("__ukey")).cast("int")))
                val g1 = genU + 1
                gensU.put("u", g1, gensU.keyed(sp, "u", touched)
                  .join(batch.select("__ukey"), Seq("__ukey"), "left_anti")
                  .unionByName(batch), Seq("__ukey"))
                touched.foreach(b => gensU.latest(("u", b)) = g1)
                gensU.release("u")
                genU = g1
              } finally { batch.unpersist(); () }
            }.start())
          replay(q, flush = false)
          gensU.keyed(spark, "u", 0 until nBuckets).drop("__ukey")
        case Streamed(df, mode, _) =>
          val sinkName = s"graft_deploy_$out"
          val q = start(
            df.writeStream.format("memory").queryName(sinkName)
              .option("checkpointLocation", ckpt("sink"))
              .outputMode(if (mode == LiveMode.Complete) OutputMode.Complete()
                          else OutputMode.Append()).start())
          // windowed Append stages close their last windows on the
          // flush sentinels (engine twin: Streaming.runStream)
          replay(q, flush = mode == LiveMode.AppendFlushed)
          spark.table(sinkName)
      })
    finally {
      scala.util.Try {
        import scala.reflect.io.Directory
        new Directory(ckptRoot.toFile).deleteRecursively()
      }
    }
  }
}
