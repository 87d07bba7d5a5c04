package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.engine.{Cep, Tables}

/** [[SiddhiQL]]'s live deployment: the Structured Streaming topology
  * builder (deployApp), the LiveFold channel (keyed/bucketed state,
  * windowed flush folds, rate folds; the enrichment join lowers in
  * [[SiddhiQlLiveEnrich]]), and the fold runner over in-memory state
  * generations. Mixed into `object SiddhiQL`. */
private[api] trait SiddhiQlLive extends Serializable {
  self: SiddhiQlFrontend with SiddhiQlCompiler with SiddhiQlLiveEnrich =>
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
  private[api] def dmlStateModeMulti(
      writers: List[(Ast, Action, StructType, String)], tName: String,
      schema: StructType,
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
      writers: List[(Ast, Action, StructType, String)],
      schema: StructType,
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
          case Some(wtb @ WindowSpec(n, tn :: _, _))
              if n.equalsIgnoreCase("timebatch") =>
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

  /** COUNT-based `output first|last every N events` LIVE over a feed
    * of projected rows whose `__emit_ord` column orders their
    * emission (a single stream's (ts_ns, event_id), an inner windowed
    * join's pair order — trigger-monotone under the in-order replay).
    * Chunk boundaries are GLOBAL arrival ranks (the batch twin's
    * guarded single-sequence semantics), so each trigger ranks its
    * batch after the prior count: `out` appends the kept rows with
    * their rank `__rn`, and `pend` holds the pending chunk-tail row
    * only — its `__rn` IS the running arrival count, so no separate
    * counter row exists. `last` also emits the trailing partial
    * chunk's tail at finish, exactly as the batch twin's max-rank
    * pick does. */
  private[api] def countRateFold(feed: DataFrame, mode: String,
      nEv: Long): LiveStage = {
    val schema = StructType(feed.drop("__emit_ord").schema.fields :+
      StructField("__rn", LongType))
    def countOf(pend: DataFrame): Long =
      pend.collect().headOption.map(_.getAs[Long]("__rn")).getOrElse(0L)
    Folded(schema, () => LiveFold(feed,
      Seq(("out", schema, AppendState), ("pend", schema, FullState)),
      (_, _, st, batch0) => {
        val batch = batch0.withColumn("__rn",
            expr("row_number() over (order by __emit_ord)") +
              lit(countOf(st("pend").slice)))
          .drop("__emit_ord")
        val kept =
          if (mode == "first") batch.filter((col("__rn") - 1) % nEv === 0)
          else batch.filter(col("__rn") % nEv === 0)
        Map("out" -> kept,
          "pend" -> batch.orderBy(col("__rn").desc).limit(1)
            .unionByName(st("pend").slice.limit(1))
            .orderBy(col("__rn").desc).limit(1))
      },
      (_, st) => {
        val fin =
          if (mode == "last" && countOf(st("pend")) % nEv != 0)
            st("out").unionByName(st("pend"))
          else st("out")
        fin.orderBy("__rn").drop("__rn")
      }))
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

  /** Stage compiler shared by [[deployAppOn]] and [[deployApp]]:
    * returns the `out` query's AST (its order by, offset and limit
    * compose in the caller) and its [[LiveStage]] — a [[Streamed]]
    * plan with its sink mode (carried event-time columns already
    * dropped), or a [[Folded]] stage (table DML, unique:last, sort,
    * frequent, enrichment join, rate over matches, …) whose
    * [[LiveFold]] is already built, for the caller to run in a
    * `foreachBatch`. The last stage named `out` or inserting into it
    * wins. The app text goes through the front-end shared with
    * [[compileApp]] ([[parseDefine]], [[onErrorStreams]],
    * [[parsePartition]], [[readNamedWindows]], [[enrichmentSides]]). */
  private[api] def deployStages(src: DataFrame, app: String, out: String)
      : (Ast, LiveStage) = {
    val need = Seq("event_id", "ts_ns", "user_id", "event_type", "value")
    need.foreach { c =>
      if (!src.columns.contains(c))
        fail(s"deployAppOn source lacks required column '$c'")
    }
    import src.sparkSession.implicits._
    import graft.engine.Streaming
    lazy val evDs = src.select(col("event_id").as("eventId"),
      col("ts_ns").as("tsNs"), col("user_id").as("userId"),
      col("event_type").as("eventType"), col("value")).as[Cep.Ev]
    val srcTs =
      if (src.columns.contains("ts")) src
      else src.withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    // captured ONCE per deployment: the same value becomes the source
    // watermark delay AND the compaction freeze bound (see scaladoc
    // at DefaultWatermarkNs) — they move in lockstep by construction
    val wmNs = watermarkNs(src.sparkSession)
    var env = Map[String, DataFrame](
      "events" -> srcTs.withWatermark("ts",
        s"${wmNs / 1000000000L} seconds"))
    var statefulStreams = Set.empty[String]
    var tableDefs = Map.empty[String, StructType]
    var liveWindowDefs = Map.empty[String, WindowSpec]
    var liveAggDefs = Map.empty[String, AggDef]
    var liveTriggerDefs = Map.empty[String, Long] // name -> interval ns
    var outStage: Option[(Ast, LiveStage)] = None
    // (ast, action, table schema, feeding stream) per DML writer, keyed
    // by target table — the enrichment-join compiler reads these
    var dmlInfos = Map.empty[String, List[(Ast, Action, StructType,
      String)]]
    // stateless insert-into stages in textual order, re-compilable
    // against a BATCH env — the fold channel derives its feeds from the
    // raw source through these (so one foreachBatch serves stages that
    // need several derived feeds: the DML's and the enrichment's)
    var statelessAsts = List.empty[(String, Ast)]
    // `f OR ts >= flushCutoff`: keeps the user predicate above the
    // source watermark node (it now references the event-time column)
    // and lets flush sentinels through; real rows (ts < cutoff) see
    // exactly the original predicate, null semantics included
    def liveWhere(df: DataFrame, f: Expr): DataFrame =
      if (df.columns.contains("ts"))
        df.where(expr(sqlOf(f)) || col("ts") >= Streaming.flushCutoff)
      else df.where(expr(sqlOf(f)))
    // Windowed aggregation deployed in APPEND mode: group by `w`, the
    // built-in `window()` (timeBatch, cron) or `session_window()` over
    // the source-watermarked event-time column, so every pane or
    // session emits exactly once when the watermark passes its end and
    // its state row is EVICTED (engine twins: Streaming.timeBatchSum,
    // Streaming.session). The guard drops flush sentinels right above
    // the watermark node — the predicate references `ts`, so pushdown
    // keeps it there. `bounds` are the window's output columns (e.g.
    // `w_start_ms`) ahead of the select items.
    def windowedAgg(ast: Ast, base: DataFrame, w: Column,
        bounds: Seq[Column]): DataFrame = {
      if (!base.columns.contains("ts"))
        fail("a live windowed aggregation needs the event-time column " +
          "'ts'")
      val items = itemsOf(ast)
      val aggCols = items.collect { case (it, a, true) =>
        expr(sqlOf(it.e)).as(a) }
      if (aggCols.isEmpty) fail("a windowed query needs an aggregate " +
        "select")
      items.collect { case (it, _, false) => it }.foreach { it =>
        it.e match {
          case Ref(parts) if ast.groupBy.contains(parts.last) => ()
          case _ => fail(s"non-aggregate select item '${sqlOf(it.e)}' " +
            "must be a group by column")
        }
      }
      val guarded = base.filter(col("ts") < Streaming.flushCutoff)
      val agged = guarded.groupBy(w +: ast.groupBy.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      val hav = ast.having.fold(agged)(h => agged.where(expr(sqlOf(h))))
      hav.select(bounds ++
        items.map { case (it, a, isAgg) =>
          if (isAgg) col(a)
          else it.e match { case Ref(parts) => col(parts.last).as(a)
                            case _ => col(a) } }: _*)
    }
    // timeBatch / cron: [[windowedAgg]] over the tumbling `window()` of
    // `ivNs`, its start emitted as `name`. `window()` floors to
    // epoch-aligned buckets, matching the batch compile's
    // `(ts_ns div T) * T` for the non-negative timestamps the
    // event-time contract requires; start-time alignment (r17,
    // `offNs`) rides its native startTime offset — same epoch + k·T + s
    // boundaries as the batch compile's shifted div.
    def tumblingAgg(ast: Ast, base: DataFrame, name: String, ivNs: Long,
        offNs: Long = 0L): DataFrame = {
      val w =
        if (offNs == 0L) window(col("ts"), s"${ivNs / 1000} microseconds")
        else window(col("ts"), s"${ivNs / 1000} microseconds",
          s"${ivNs / 1000} microseconds", s"${offNs / 1000} microseconds")
      windowedAgg(ast, base, w, Seq(unix_millis(col("window.start")).as(name)))
    }
    // Per-key buffered fold (length / timeLength / expression windows,
    // named by `wName`): each group-by key's events arrive in (ts_ns,
    // event_id) order inside flatMapGroupsWithState; `step(buffer,
    // event)` returns (the buffer kept as state, the events the select
    // items evaluate over with [[bufEval]]), so state is whatever the
    // step retains per key.
    def bufferFold(ast: Ast, base: DataFrame, wName: String,
        step: (Vector[Cep.Ev], Cep.Ev) => (Vector[Cep.Ev], Vector[Cep.Ev]))
        : DataFrame = {
      val key = ast.groupBy match {
        case k :: Nil => k
        case _ => fail(s"live $wName window (v1) needs exactly one " +
          "group by key to partition the per-key fold")
      }
      val items = itemsOf(ast)
      val schema2 = StructType(evOutTypes(items).map {
        case (n3, t) => StructField(n3, t) })
      implicit val enc2: org.apache.spark.sql.Encoder[
        org.apache.spark.sql.Row] =
        org.apache.spark.sql.Encoders.row(schema2)
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.GroupStateTimeout
      base.select(col("event_id").as("eventId"),
          col("ts_ns").as("tsNs"), col("user_id").as("userId"),
          col("event_type").as("eventType"), col("value"))
        .as[Cep.Ev](Encoders.product[Cep.Ev])
        .groupByKey(e => String.valueOf(field(e, key)))(Encoders.STRING)
        .flatMapGroupsWithState[Vector[Cep.Ev], org.apache.spark.sql.Row](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (_, it2, st) =>
            var buf = st.getOption.getOrElse(Vector.empty[Cep.Ev])
            val out = it2.toVector.sortBy(e => (e.tsNs, e.eventId)).map {
              e =>
                val (kept, win) = step(buf, e)
                buf = kept
                org.apache.spark.sql.Row.fromSeq(
                  items.map { case (it3, _, _) => bufEval(it3.e, win, e) })
            }
            st.update(buf)
            out.iterator
        }.toDF()
    }
    // one `from ...` stage: lowers onto the live topology as a
    // [[LiveStage]], then its one exit updates env / statefulStreams /
    // statelessAsts and, for the out stage, builds the result. `view`
    // is the stage's read environment (a partition block overrides its
    // stream with the keyed/labeled view); `partKey` marks
    // partition-block queries.
    def runStage(name: Option[String], ast0L: Ast,
        view: Map[String, DataFrame], partKey: Option[String]): Unit = {
        // a defined window reads as fed-stream#spec, exactly like the
        // batch replay — reading W as a plain stream would miscompile
        val ast = readNamedWindows(ast0L, liveWindowDefs, env.contains)
        // rate over pattern matches deploys through the fold channel
        // (see the PatternStream case); snapshot keeps the batch
        // compiler's refusal, named identically on both surfaces
        if (ast.rate.exists(_.mode == "snapshot") &&
            ast.stream.isInstanceOf[PatternStream])
          fail("output snapshot over a pattern (v1): insert the " +
            "matches into a stream and snapshot that stream")
        val dmlAct = ast.action.filter {
          case InsertInto(t) => tableDefs.contains(t)
          case _             => true
        }
        // a DML-maintained table's fold, as its writers so far build
        // it — for the writer stage itself and for a `from T select
        // ...` read: the multi-writer interleave, the windowed flush
        // partials, or the plain keyed merge
        def tableFoldFor(tName: String): LiveFold = {
          val allWriters = dmlInfos(tName)
          val schema = tableDefs(tName)
          val statelessSnap = statelessAsts
          def envOf(sp: SparkSession, d2: String, batch: DataFrame)
              : Map[String, DataFrame] =
            batchEnv(sp, d2, batch, statelessSnap)
          def feedOf(wSrc: String): DataFrame =
            envLookup(view, wSrc).getOrElse(fail("live deployment " +
              s"reads declared streams; table writer source '$wSrc' " +
              "is neither the source nor an earlier insert-into " +
              "target"))
          if (allWriters.length > 1) {
            // MULTI-WRITER table deployed LIVE: the fold applies every
            // registered writer's emissions per trigger in per-event
            // interleaved order (applyDmlMulti — the same merged
            // algebra as the batch compile, which is why the batch
            // replay is the oracle). Each writer's feed re-derives from
            // the source batch, so every writer must read the source
            // (or a stateless derived stream). Groups with ANY windowed
            // writer — all-windowed or MIXED with per-event
            // writers/sweepers — deploy via per-writer states + the
            // batch merge tail (r14, multiWindowedDmlFold);
            // all-per-event groups keep the per-trigger incremental
            // merge (O(table keys) state).
            if (!dmlComposable(allWriters))
              fail(s"multi-writer table '$tName' (v1) deploys " +
                "ORDER-COMPOSABLE writer groups only (all insert / " +
                "all implicit-set upsert / all identical-fold upsert " +
                "/ insert + implicit-set upsert multiset groups / " +
                "any of those + keyed delete sweepers on the same " +
                "key) — the remaining heterogeneous pipelines " +
                "(insert + expr-set fold upserts, update/upsert-expr " +
                "mixes, mixed keys) are row-level replays, batch " +
                s"surfaces by design; got [${dmlKinds(allWriters)
                  .mkString(", ")}]")
            val winN = allWriters.count { case (wAst, _, _, _) =>
              wAst.stream match {
                case ss: SingleStream => ss.window.nonEmpty
                case _                => false
              }
            }
            allWriters.foreach { case (_, _, _, wSrc) =>
              val derivable = Set("events") ++ statelessSnap.map(_._1)
              if (!derivable.contains(wSrc))
                fail(s"multi-writer table '$tName' (v1): writer " +
                  s"source '$wSrc' must be the source stream or a " +
                  "stateless derived stream")
            }
            // deploy-time probe: shape checks fail NOW, not at the
            // first trigger
            val sp00 = srcTs.sparkSession
            applyDmlMulti(sp00, "", allWriters, schema,
              emptyOf(sp00, schema),
              envOf(sp00, "", emptyOf(sp00, srcTs.schema)))
            if (winN > 0)
              multiWindowedDmlFold(srcTs, allWriters, schema, envOf)
            else singleFold(srcTs, schema,
              (sp, d2, acc, batch) => applyDmlMulti(sp, d2, allWriters,
                schema, acc, envOf(sp, d2, batch)),
              (_, acc) => acc,
              dmlStateModeMulti(allWriters, tName, schema, envOf))
          } else {
            val (wAst, wAct, _, wSrc) = allWriters.head
            val winSpec = wAst.stream match {
              case ss: SingleStream => ss.window
              case _ => None
            }
            winSpec match {
              case Some(wtb @ WindowSpec(_, tNs :: _, _)) =>
                // windowed-aggregate DML (the Siddhi store pattern)
                // LIVE: a per-batch applyDml would double-apply a
                // window bucket that spans two triggers, so the fold
                // keeps per-(bucket ∪ group keys) algebraic PARTIALS
                // instead and runs the emission merge once, at finish
                requireEpochTb(wtb, "live windowed table DML")
                windowedDmlFold(feedOf(wSrc), wAst, wAct, schema, tNs)
              case _ =>
                singleFold(feedOf(wSrc), schema,
                  (sp, d2, acc, batch) => applyDml(sp, d2, wAst, wAct,
                    schema, acc, Map(wSrc -> batch)),
                  (_, acc) => acc,
                  // insert-only DML appends generation deltas; keyed
                  // DML bucket-merges — per-trigger write cost
                  // O(batch), not O(accumulated table)
                  dmlStateMode(wAst, wAct, schema, wSrc,
                    (_, _, batch) => Map(wSrc -> batch)))
            }
          }
        }
        val stage: LiveStage = if (dmlAct.nonEmpty) {
          // table DML from a partition block never reaches this arm
          // with a partKey: [[Partition.queries]] HOISTS it to
          // top-level writer AST(s) first and the partition branch
          // re-enters runStage partKey-less, so the DML capture below
          // sees only legitimate top-level writers.
          // table DML deployed LIVE: captured here, executed by
          // deployApp as a per-micro-batch keyed MERGE over the
          // accumulated table (engine twin: Streaming.tableUpsert).
          // Statement-at-once batch semantics survive the micro-batch
          // split because applyDml's merge is a per-key fold: set RHS
          // may reference the triggering event only (enforced there),
          // so last-update-wins composes across batches.
          val act = dmlAct.get
          val schema = tableDefs.getOrElse(act.target, fail(
            s"'${act.target}' is not a defined table — add " +
              s"`define table ${act.target}(...)` before the DML query"))
          val srcName = ast.stream match {
            case ss: SingleStream => ss.table
            case _ => fail("table DML (v1) requires a single un-joined " +
              "source stream")
          }
          if (statefulStreams.contains(srcName))
            fail(s"live deployment (v1): '$srcName' is an aggregation " +
              "output — it cannot feed table DML")
          val feed = envLookup(view, srcName).getOrElse(fail("live deployment " +
            s"reads declared streams; '$srcName' is neither the " +
            "source nor an earlier insert-into target"))
          // build the merge plan NOW over empty frames so a bad app
          // fails at deploy time, not at the first trigger
          applyDml(feed.sparkSession, "", ast, act, schema,
            emptyOf(feed.sparkSession, schema),
            Map(srcName -> emptyOf(feed.sparkSession, feed.schema)))
          // reads of a DML-maintained table deploy through the
          // enrichment-join fold (the JoinStream branch below); any
          // other read shape is diagnosed via the aggregation-output
          // path
          statefulStreams += act.target
          dmlInfos += act.target -> (dmlInfos.getOrElse(act.target, Nil)
            :+ ((ast, act, schema, srcName)))
          Folded(schema, () => tableFoldFor(act.target))
        } else {
        // rate over pattern matches: register the accumulate-then-rank
        // fold (AppendState match log; finish = the BATCH selection,
        // rateOverMatches, so both surfaces share one code path)
        def patternRateFold(matches: DataFrame, r: Rate,
            outCols: Seq[String], schemaR: StructType,
            needsFl: Boolean): LiveStage =
          Folded(schemaR, () => LiveFold(matches,
            Seq(("m", schemaR, AppendState)),
            (_, _, _, batch) => Map("m" -> batch),
            (_, st) => rateOverMatches(st("m"), outCols, r),
            needsFlush = needsFl))
        ast.stream match {
          // `from AggName within ... per '...'` reading a LIVE
          // `define aggregation`: the grain cascade compiles onto the
          // keyed bucket-merge fold channel. State is the FINEST-grain
          // partial table keyed by (bucket, group keys) — each trigger
          // computes the batch's partials and merges only the
          // batch-touched buckets (per-trigger write cost
          // O(batch-touched buckets), not O(state)); the read's
          // roll-up / within bound / finalize runs at finish exactly
          // as the batch path's aggRollUp, which is why the batch
          // incremental-aggregation oracle is the live gate's truth.
          // `from T ...` reading a LIVE `define trigger`: tick
          // generation is event-time-span driven in the replay (the
          // batch compile's exact rule — aligned interval starts over
          // [min, max] of the stream's ts_ns), tracked incrementally:
          // fold state is ONE (lo, hi) row of aligned bucket bounds,
          // merged per trigger; finish explodes the tick sequence
          // (O(span/iv) rows) and runs the read query's batch compile
          // over it — filters/projections/joins against ticks all
          // compose. A wall-clock deployment swaps the span state for
          // a rate source; everything above the tick relation is
          // unchanged.
          case s: SingleStream if liveTriggerDefs.contains(s.table) =>
            if (partKey.nonEmpty)
              fail("a trigger read inside a partition block is not " +
                "deployed (v1)")
            val ivNs = liveTriggerDefs(s.table)
            val ivMs = ivNs / 1000000L
            val tname = s.table
            val sp0 = srcTs.sparkSession
            val spanSchema = StructType(Seq(
              StructField("lo", LongType), StructField("hi", LongType)))
            def ticksOf(acc: DataFrame): DataFrame =
              acc.select(explode(sequence(col("lo"), col("hi"),
                lit(ivMs))).as("tick_ms"))
            // deploy-time validation over an empty tick relation (also
            // rejects reads of anything besides the trigger — the
            // finish recompile carries no table directory)
            val protoT = compileAst(sp0, "", ast,
              Map(tname -> ticksOf(emptyOf(sp0, spanSchema))))
            // finish leaves order/offset/limit to the runner
            val astT = ast.copy(orderBy = Nil, limit = None, offset = None)
            Folded(protoT.schema, () => singleFold(srcTs, spanSchema,
                (_, _, acc, batch) => {
                  val b2 = batch.agg(
                    expr(s"min((ts_ns div ${ivNs}L) * ${ivMs}L)")
                      .as("lo"),
                    expr(s"max((ts_ns div ${ivNs}L) * ${ivMs}L)")
                      .as("hi"))
                  acc.unionByName(b2)
                    .agg(min("lo").as("lo"), max("hi").as("hi"))
                    .where(col("lo").isNotNull)
                },
                (sp, acc) =>
                  compileAst(sp, "", astT, Map(tname -> ticksOf(acc)))))
          case s: SingleStream if liveAggDefs.contains(s.table) =>
            if (partKey.nonEmpty)
              fail("an aggregation read inside a partition block is " +
                "not deployed (v1)")
            val adef = liveAggDefs(s.table)
            val (perMs, lo, hi) = aggReadSpec(s, adef)
            val (pCols, cCols, fMap) = aggPlanCols(adef)
            if (ast.groupBy.nonEmpty || ast.having.nonEmpty)
              fail("an aggregation read is a projection over stored " +
                "attributes (no group by / having)")
            val items = itemsOf(ast)
            items.foreach { case (_, a2, isAgg) =>
              if (isAgg) fail("an aggregation read selects stored " +
                s"attributes (no re-aggregation, v1): '$a2'")
            }
            def readProj(stored: DataFrame): DataFrame =
              stored.select(col("bucket_start_ms") +:
                items.map { case (it, a2, _) =>
                  expr(sqlOf(it.e)).as(a2) }: _*)
            val sp0 = srcTs.sparkSession
            val finestMs = grainMsOf(adef.grains.head)
            val stateKeys = "__gb" +: adef.groupBy
            // prototype over an empty frame: deploy-time validation
            // (schema, filter, read projection) + the state schema
            val proto = aggGrainPartial(
              emptyOf(sp0, srcTs.schema), adef, pCols)
            readProj(aggRollUp(proto, adef, perMs, lo, hi, cCols, fMap))
            Folded(proto.schema, () => singleFold(srcTs, proto.schema,
                (_, _, acc, batch) => FoldAlg.keyedMerge(acc,
                  aggGrainPartial(batch, adef, pCols), stateKeys,
                  aggMergeCols(adef)),
                (_, acc) => readProj(aggRollUp(acc, adef, perMs, lo, hi,
                  cCols, fMap)),
                KeyedState(stateKeys, (_, _, batch) => {
                  val f = adef.filter.fold(batch)(ff =>
                    batch.where(expr(sqlOf(ff))))
                  f.select(expr(s"(${adef.tsAttr} div " +
                    s"${finestMs * 1000000L}L) * ${finestMs}L")
                    .as("__gb") +: adef.groupBy.map(col): _*)
                })))
          case s: SingleStream if dmlInfos.contains(s.table) =>
            // `from T select ...` over a DML-maintained table (r14):
            // an END-OF-REPLAY snapshot read — the table fold runs as
            // usual and the read query's filter/projection/order
            // apply at finish (the batch 'read' stage's semantics; a
            // table is not a stream, per-event reads are the
            // enrichment join). v1: stateless projection only.
            if (ast.select.exists(it => containsAgg(it.e)) ||
                ast.groupBy.nonEmpty || ast.having.nonEmpty)
              fail("a live table read projects columns (v1) — for " +
                "aggregates use an on-demand store query (compileApp) " +
                "or aggregate the stream feeding the table")
            if (s.window.nonEmpty)
              fail("a live table read takes no window (v1) — the " +
                "table is an end-of-replay snapshot, not a stream")
            if (ast.rate.nonEmpty)
              fail("a live table read takes no output rate limiting " +
                "(v1) — rate the stream feeding the table instead")
            if (partKey.nonEmpty)
              fail("a live table read inside a partition block is " +
                "not deployed (v1)")
            val itemsR = itemsOf(expandStar(ast,
              tableDefs(s.table).fieldNames))
            def projectT(t: DataFrame): DataFrame = {
              val f = s.filter.fold(t)(ff => t.where(expr(sqlOf(ff))))
              f.select(itemsR.map { case (it, a2, _) =>
                expr(sqlOf(it.e)).as(a2) }: _*)
            }
            // deploy-time fail-fast + output schema
            val protoT = projectT(
              emptyOf(srcTs.sparkSession, tableDefs(s.table)))
            Folded(protoT.schema, () => {
              val baseLf = tableFoldFor(s.table)
              baseLf.copy(finish = (sp, st) =>
                projectT(baseLf.finish(sp, st)))
            })
          case s: SingleStream =>
            if (statefulStreams.contains(s.table))
              fail(s"live deployment (v1): '${s.table}' is an " +
                "aggregation output — it must be the app's final sink, " +
                "not a feed for further stages")
            val base0 = envLookup(view, s.table).getOrElse(fail("live deployment " +
              s"reads declared streams; '${s.table}' is neither the " +
              "source nor an earlier insert-into target"))
            val base = s.filter.fold(base0)(f => liveWhere(base0, f))
            // the one rate guard: live output rate limiting deploys over
            // plain projections and timeBatch windows only
            if (ast.rate.nonEmpty) (s.window match {
              case Some(w) if !w.name.equalsIgnoreCase("timebatch") =>
                Some(s"a ${w.name} window")
              case None if ast.select.exists(it => containsAgg(it.e)) =>
                Some("an aggregation")
              case _ => None
            }).foreach(what => fail(
              s"live rate limiting applies to stateless stages (v1) — " +
                s"not above $what"))
            s.window match {
              case None if ast.rate.exists(r => r.mode == "last" &&
                  r.timeNs.nonEmpty && r.count.isEmpty) &&
                  !ast.select.exists(it => containsAgg(it.e)) =>
                // `output last every T` LIVE: an interval's LAST event
                // is only known when the interval closes — an
                // Append-mode time-window aggregation:
                // max_by(projected row, (ts_ns, event_id)) per
                // window(ts, T); the watermark emits and EVICTS each
                // interval once it has passed (bounded state; batch
                // twin: compileRateLimited's first|last arm, engine
                // twin: Ops.rateLimit's last_id)
                if (ast.groupBy.nonEmpty || ast.having.nonEmpty)
                  fail("output rate limiting (v1) applies to plain " +
                    "`from S[filter] select ...` (no group by / having)")
                Seq("ts", "ts_ns", "event_id").foreach(c =>
                  if (!base.columns.contains(c))
                    fail(s"live rate limiting needs column '$c'"))
                val tNs = ast.rate.get.timeNs.get
                val items = itemsOf(ast)
                val rowC = struct(items.map { case (it, a, _) =>
                  expr(sqlOf(it.e)).as(a) }: _*)
                val lastDf = base
                  .filter(col("ts") < Streaming.flushCutoff)
                  .groupBy(window(col("ts"),
                    s"${tNs / 1000} microseconds"))
                  .agg(max_by(rowC,
                    struct(col("ts_ns"), col("event_id"))).as("__row"))
                  .select(col("__row.*"))
                Streamed(lastDf, LiveMode.AppendFlushed)
              case None if ast.rate.exists(r => r.mode == "snapshot" &&
                  r.timeNs.nonEmpty && r.count.isEmpty) &&
                  !ast.select.exists(it => containsAgg(it.e)) =>
                // `output snapshot every T` LIVE: the latest projected
                // row as of each interval end, gap intervals carrying
                // the previous snapshot forward (batch twin:
                // compileRateLimited's snapshot arm; engine twin:
                // Ops.rateLimitSnapshot). The per-interval keep-latest
                // is a keyed fold on the interval id — bucketed
                // generations rewrite only the intervals the batch
                // touches — and the gap fill runs once at finish over
                // the O(span/T) snapshot rows.
                if (ast.groupBy.nonEmpty || ast.having.nonEmpty)
                  fail("output rate limiting (v1) applies to plain " +
                    "`from S[filter] select ...` (no group by / having)")
                Seq("ts_ns", "event_id").foreach(c =>
                  if (!base.columns.contains(c))
                    fail(s"live rate limiting needs column '$c'"))
                val tNs = ast.rate.get.timeNs.get
                val ivMs = tNs / 1000000L
                val items = itemsOf(ast)
                val outCols = items.map(_._2)
                def partialSnap(df: DataFrame): DataFrame =
                  df.select(items.map { case (it, a, _) =>
                      expr(sqlOf(it.e)).as(a) } :+
                      expr(s"ts_ns div ${tNs}L").as("__iv") :+
                      struct(col("ts_ns"), col("event_id")).as("__ord")
                      : _*)
                    .groupBy("__iv")
                    .agg(max_by(struct(outCols.map(col): _*),
                      col("__ord")).as("__row"),
                      max(col("__ord")).as("__ord"))
                val schemaS = partialSnap(base).schema
                Folded(schemaS, () => singleFold(base, schemaS,
                    (_, _, acc, batch) =>
                      acc.unionByName(partialSnap(batch))
                        .groupBy("__iv")
                        .agg(max_by(col("__row"), col("__ord"))
                          .as("__row"), max(col("__ord")).as("__ord")),
                    (_, acc) => {
                      val ticks = acc
                        .agg(min("__iv").as("__lo"),
                          max("__iv").as("__hi"))
                        .where(col("__lo").isNotNull)
                        .select(explode(sequence(col("__lo"),
                          col("__hi"))).as("__iv"))
                      val w = org.apache.spark.sql.expressions.Window
                        .orderBy("__iv")
                        .rowsBetween(org.apache.spark.sql.expressions
                          .Window.unboundedPreceding, 0)
                      ticks.join(acc, Seq("__iv"), "left_outer")
                        .select(col("__iv") +: outCols.map(c =>
                          last(col(s"__row.$c"), ignoreNulls = true)
                            .over(w).as(c)): _*)
                        .select(((col("__iv") + 1) * ivMs)
                          .as("w_end_ms") +: outCols.map(col): _*)
                    },
                    KeyedState(Seq("__iv"), (_, _, batch) =>
                      batch.select(expr(s"ts_ns div ${tNs}L")
                        .as("__iv")))))
              case None
                  if ast.rate.exists(r =>
                    r.count.nonEmpty &&
                      (r.mode == "first" || r.mode == "last")) =>
                // COUNT-based `output first|last every N events` LIVE:
                // the count-rate fold over the projected rows, emitted
                // in (ts_ns, event_id) order (aggregates are refused by
                // the rate guard above)
                if (ast.groupBy.nonEmpty)
                  fail("output rate limiting (v1) select cannot " +
                    "aggregate")
                if (partKey.nonEmpty)
                  fail("count-based rate limiting inside a partition " +
                    "block is not deployed (v1)")
                Seq("ts_ns", "event_id").foreach(c =>
                  if (!base.columns.contains(c))
                    fail(s"output rate limiting needs '$c' on the " +
                      "stream to define emission order"))
                countRateFold(base.select(itemsOf(ast).map {
                    case (it, a2, _) => expr(sqlOf(it.e)).as(a2) } :+
                    struct(col("ts_ns"), col("event_id")).as("__emit_ord")
                    : _*),
                  ast.rate.get.mode, ast.rate.get.count.get)
              case None =>
                val agg = ast.select.exists(it => containsAgg(it.e))
                // `output first every T` LIVE: streaming dropDuplicates
                // on the interval id — the first event of each interval
                // emits AS IT ARRIVES; the watermark evicts interval
                // state once the interval has passed (bounded state at
                // any runtime length; engine twin:
                // Streaming.rateLimitFirst). `output all every T` only
                // batches EMISSION, never content — deployed as the
                // pass-through it is.
                val rated = ast.rate match {
                  case None => base
                  case Some(Rate("all", _, _)) => base
                  case Some(Rate("first", Some(tNs), None)) =>
                    if (!base.columns.contains("ts"))
                      fail("live rate limiting needs the event-time " +
                        "column 'ts'")
                    // the interval id is a TIMESTAMP event-time column
                    // carrying the watermark tag AND serving as the
                    // dedup key: Spark only evicts streaming-dedup state
                    // when a watermarked column is among the keys, so a
                    // derived LONG id would accumulate state forever
                    // (engine twin: Streaming.rateLimitFirst). The tag
                    // is attached as metadata — a second withWatermark
                    // NODE below the source one would be a disallowed
                    // redefinition; the watermark VALUE still comes from
                    // the source node, and __w <= ts so eviction is
                    // sound (an interval's state drops once the
                    // watermark passes its start).
                    val mdw = new MetadataBuilder()
                      .putLong("spark.watermarkDelayMs", wmNs / 1000000L)
                      .build()
                    base.select(col("*"),
                        timestamp_millis(
                          expr(s"(ts_ns div ${tNs}L) * ${tNs / 1000000}L"))
                          .as("__w", mdw))
                      .dropDuplicates("__w")
                      .drop("__w")
                  case Some(r) => fail("live deployment (v1) supports " +
                    "time-based `output first|last|all|snapshot every " +
                    s"<time>`; got mode '${r.mode}'" +
                    r.count.fold("")(_ => " with an event count"))
                }
                // carry the watermarked event-time columns through the
                // projection (dropped again if this stage is the sink)
                // so a downstream window can bucket and evict by them
                val carryCols =
                  if (agg) Nil
                  else {
                    val aliases = itemsOf(ast).map(_._2).toSet
                    Seq("ts", "ts_ns").filter(c =>
                      rated.columns.contains(c) && !aliases.contains(c))
                  }
                val outDf = selectOrAggregate(ast, rated, Nil,
                  windowed = false, carry = carryCols.map(col))
                if (!agg) Streamed(outDf, LiveMode.Append, carryCols)
                else {
                  // live global (unwindowed) aggregation runs UPDATE
                  // mode: each trigger emits only the groups the batch
                  // changed — sink volume O(batch keys) per trigger,
                  // not O(all groups) as Complete-mode re-emission
                  // would be. The runner collapses the emissions into
                  // a keyed upsert (last write per group wins), the
                  // scale-safe shape of the reference's ever-updating
                  // aggregate. `__ukey` carries the group identity to
                  // the collapse and is dropped at the sink; when the
                  // group key is not projected there is no upsert
                  // identity, so the stage keeps bounded-state
                  // Complete re-emission.
                  if (ast.groupBy.isEmpty)
                    Streamed(outDf.withColumn("__ukey", lit(0L)),
                      LiveMode.Update)
                  else if (ast.groupBy.forall(outDf.columns.contains))
                    Streamed(outDf.withColumn("__ukey",
                      struct(ast.groupBy.map(col): _*)), LiveMode.Update)
                  else Streamed(outDf, LiveMode.Complete)
                }
              case Some(WindowSpec(n, args, _))
                  if n.equalsIgnoreCase("timebatch") =>
                ast.rate match {
                  case Some(rW) =>
                    // rate OVER the windowed aggregation LIVE: the
                    // same fold channel as the store pattern — state
                    // = per-bucket algebraic flush partials (a bucket
                    // straddling triggers merges componentwise), and
                    // finish runs the BATCH rate selection over the
                    // finalized flushes, so live ≡ batch by
                    // construction (incl. interval boundaries)
                    if (partKey.nonEmpty)
                      fail("windowed rate limiting inside a partition " +
                        "block is not deployed (v1)")
                    if (ast.groupBy.nonEmpty)
                      fail("output rate limiting over a windowed " +
                        "aggregation (v1) is ungrouped — one flush row " +
                        "per window")
                    val itemsW = itemsOf(ast)
                    itemsW.foreach { case (it, a2, isAgg) =>
                      if (!isAgg && refsAttr(it.e))
                        fail(s"rate-limited windowed select item '$a2' " +
                          "must aggregate (or be a constant)")
                    }
                    if (!itemsW.exists(_._3))
                      fail("a rate-limited windowed query needs an " +
                        "aggregate select item")
                    requireEpochTb(s.window.get,
                      "rate limiting over a windowed aggregation")
                    val tNsW = args.head
                    val (lfW, protoW) = flushPartialFold(base, None,
                      Nil, itemsW, tNsW,
                      (_, flush) => rateOverFlushes(flush,
                        itemsW.map(_._2), tNsW / 1000000L, rW))
                    Folded(protoW.schema, () => lfW)
                  case None =>
                    Streamed(tumblingAgg(ast, base, "w_start_ms", args.head,
                      tbOffNs(s.window.get)), LiveMode.AppendFlushed)
                }
              case Some(WindowSpec(n2, _, sargs2))
                  if n2.equalsIgnoreCase("unique:first") =>
                // live unique:first = streaming dropDuplicates on the
                // key (engine twin: Streaming.dedupKeys) — the first
                // event per distinct key emits as it arrives; later
                // duplicates are suppressed by keyed state
                if (ast.select.exists(it => containsAgg(it.e)) ||
                    ast.groupBy.nonEmpty)
                  fail("live unique:first projects columns (v1)")
                if (sargs2.isEmpty)
                  fail("unique:first needs an attribute argument")
                sargs2.foreach(a2 => if (!base.columns.contains(a2))
                  fail(s"unique:first key '$a2' is not a column"))
                // keyed dedup state is held forever BY CONTRACT —
                // unique:first must remember every key it has seen, so
                // state is bounded by the key domain, not the watermark
                Streamed(selectOrAggregate(ast,
                  base.dropDuplicates(sargs2.head, sargs2.tail: _*),
                  Nil, windowed = false), LiveMode.Append)
              case Some(WindowSpec(n2, _, sargs2))
                  if n2.equalsIgnoreCase("expression") =>
                // live retain-while window: the batch fold's eviction
                // rule running inside flatMapGroupsWithState — on each
                // arrival evict from the FRONT until the retention
                // predicate holds, re-evaluate select items over the
                // retained buffer ([[bufEval]] again); buffer size is
                // bounded by the predicate itself
                val retTxt = sargs2.headOption.getOrElse(
                  fail("expression window needs a quoted retention " +
                    "expression"))
                val ret = new P(lex(retTxt)).expr()
                Streamed(bufferFold(ast, base, n2, { (buf0, e) =>
                  var buf = buf0 :+ e
                  while (buf.nonEmpty &&
                      !bufEval(ret, buf, e).asInstanceOf[Boolean])
                    buf = buf.tail
                  (buf, buf)
                }), LiveMode.Append)
              case Some(WindowSpec(n2, _, sargs2))
                  if n2.equalsIgnoreCase("cron") =>
                // cron live: the epoch-aligned fixed-interval Quartz
                // forms ARE a cron-aligned timeBatch — same Append-mode
                // watermark-evicted buckets, keyed cron_tick_ms
                val spec = sargs2.headOption.getOrElse(
                  fail("cron needs a quoted Quartz expression argument"))
                Streamed(tumblingAgg(ast, base, "cron_tick_ms",
                  cronIntervalNs(spec)), LiveMode.AppendFlushed)
              case Some(WindowSpec(n2, args2, _))
                  if n2.equalsIgnoreCase("delay") =>
                // delay(T) live: the same stateless re-timestamp the
                // batch compile uses — downstream stages (incl. further
                // live windows) bucket by the delayed time. The shifted
                // `ts` is a NEW attribute, so the source watermark tag
                // would be lost: re-attach the delay metadata
                // explicitly so a downstream Append aggregation still
                // sees a watermarked event-time column (the watermark
                // VALUE keeps coming from the source node — shifted
                // windows simply close `T` later, which is the point of
                // a delay).
                val tNs2 = args2.headOption.getOrElse(
                  fail("delay needs a duration argument"))
                val md = new MetadataBuilder()
                  .putLong("spark.watermarkDelayMs", wmNs / 1000000L).build()
                val others = base.columns
                  .filterNot(c => c == "ts" || c == "ts_ns").map(col)
                val shifted = base.select(others ++ Seq(
                  (col("ts_ns") + lit(tNs2)).as("ts_ns"),
                  expr(s"timestampadd(MICROSECOND, ${tNs2 / 1000}L, ts)")
                    .as("ts", md)): _*)
                val agg2 = ast.select.exists(it => containsAgg(it.e))
                val carry2 =
                  if (agg2) Nil
                  else {
                    val aliases = itemsOf(ast).map(_._2).toSet
                    Seq("ts", "ts_ns").filterNot(aliases.contains)
                  }
                Streamed(selectOrAggregate(ast, shifted, Nil,
                  windowed = false, carry = carry2.map(col)),
                  if (agg2) LiveMode.Complete else LiveMode.Append, carry2)
              case Some(WindowSpec(n2, args2, _))
                  if n2.equalsIgnoreCase("timelength") =>
                // live timeLength(T, N): per-key ring of the last N
                // events; select items evaluate over the subset still
                // within T of the current event (same inclusive bound as
                // the batch compile) — state is ≤ N events per key
                val tNs2 = args2.head
                val nCap = args2(1).toInt
                Streamed(bufferFold(ast, base, n2, { (ring0, e) =>
                  val ring = (ring0 :+ e).takeRight(nCap)
                  (ring, ring.filter(_.tsNs >= e.tsNs - tNs2))
                }), LiveMode.Append)
              case Some(WindowSpec(n2, _, sargs2))
                  if n2.equalsIgnoreCase("unique:last") ||
                    n2.equalsIgnoreCase("unique:ever") =>
                // live unique:last: keep-LAST per key — the emitted-row
                // retraction (Update-mode semantics) Spark sinks can't
                // express becomes a per-micro-batch keyed fold: each
                // batch's rows merge into one state row per distinct
                // key (the unique-window contract bounds state by the
                // key domain, exactly like unique:first's dedup state).
                // unique:ever retains the latest row per key forever —
                // the identical fold. Composite keys (r17) fold on the
                // attribute struct.
                if (ast.select.exists(it => containsAgg(it.e)) ||
                    ast.groupBy.nonEmpty)
                  fail(s"live $n2 projects columns (v1)")
                if (sargs2.isEmpty)
                  fail(s"$n2 needs an attribute argument")
                (sargs2 ++ Seq("ts_ns", "event_id")).foreach(c =>
                  if (!base.columns.contains(c))
                    fail(s"live $n2 needs column '$c'"))
                val items = itemsOf(ast)
                def selLast(df: DataFrame): DataFrame =
                  df.select(items.map { case (it, a, _) =>
                    expr(sqlOf(it.e)).as(a) } ++ Seq(
                    struct(sargs2.map(col): _*).as("__ukey"),
                    col("ts_ns").as("__uord_ts"),
                    col("event_id").as("__uord_id")): _*)
                val schemaU = selLast(base).schema
                val helperCols = Seq("__ukey", "__uord_ts", "__uord_id")
                Folded(schemaU, () => singleFold(base, schemaU,
                    (_, _, acc, batch) =>
                      acc.unionByName(selLast(batch))
                        .withColumn("__rn", expr("row_number() over " +
                          "(partition by __ukey order by __uord_ts " +
                          "desc, __uord_id desc)"))
                        .where(col("__rn") === 1).drop("__rn"),
                    (_, acc) => acc.drop(helperCols: _*),
                    // keep-last is a per-__ukey merge: only buckets
                    // the batch's keys hash into are read and rewritten
                    KeyedState(Seq("__ukey"), (_, _, batch) =>
                      batch.select(struct(sargs2.map(col): _*)
                        .cast(schemaU("__ukey").dataType)
                        .as("__ukey")))))
              case Some(WindowSpec(n2, args2, sargs2))
                  if n2.equalsIgnoreCase("sort") =>
                // live sort(N, attr, dir): running top-N retention —
                // per micro-batch the kept set folds as
                // topN(kept ∪ batch); N full rows of state, composable
                // across any batch split because top-N is associative.
                // Select items (usually aggregates) evaluate over the
                // FINAL kept set, the batch compile's semantics.
                val nKeep = args2.headOption.getOrElse(
                  fail("sort needs a count argument")).toInt
                Seq("ts_ns", "event_id").foreach(c =>
                  if (!base.columns.contains(c))
                    fail(s"live sort window needs column '$c'"))
                // multi-attribute comparator (r17) — the batch
                // compile's shared sortComparator, so live ≡ batch
                val ordS = sortComparator(sargs2, base.columns) ++
                  Seq(col("ts_ns").asc, col("event_id").asc)
                Folded(base.schema, () => singleFold(base, base.schema,
                    (_, _, acc, batch) =>
                      acc.unionByName(
                          batch.select(acc.columns.map(col): _*))
                        .orderBy(ordS: _*).limit(nKeep),
                    (_, acc) => selectOrAggregate(ast, acc, Nil,
                      windowed = false)))
              case Some(WindowSpec(n2, args2, sargs2))
                  if n2.equalsIgnoreCase("frequent") =>
                // live frequent(N, attr): the select items fold as
                // FoldAlg components keyed on the attribute (state = one
                // component row per distinct key), with the
                // top-N-by-frequency retention applied at read time —
                // the batch compile's exact-count truth, incrementally
                if (ast.having.nonEmpty)
                  fail("live frequent window (v1) has no having clause")
                val nKeep = args2.headOption.getOrElse(
                  fail("frequent needs a count argument")).toInt
                val attr = sargs2.headOption.getOrElse(
                  fail("frequent needs an attribute argument"))
                if (ast.groupBy != List(attr))
                  fail("live frequent window (v1) groups by its " +
                    s"attribute ('group by $attr')")
                if (!base.columns.contains(attr))
                  fail(s"live frequent window needs column '$attr'")
                val items = itemsOf(ast)
                items.collect { case (it, a, false) => (it.e, a) }.foreach {
                  case (Ref(parts), _) if parts.last == attr => ()
                  case (_, a) => fail("live frequent window (v1) " +
                    s"non-aggregate item '$a' must be the attribute")
                }
                // the retention's frequency is one more count component
                val fp = FoldAlg.plan(items :+ ((SelItem(
                  Call(None, "count", Nil), Some("__cnt")), "__cnt", true)),
                  Seq(attr), (_, _) => Ref(List(attr)))
                def partialOf(df: DataFrame): DataFrame =
                  fp.partial(df.select(col(attr) +: fp.argCols(): _*))
                val schemaF = partialOf(base).schema
                val rank = row_number().over(
                  org.apache.spark.sql.expressions.Window.orderBy(
                    col(fp.comps.last.base).desc, col(attr)))
                Folded(schemaF, () => singleFold(base, schemaF,
                    (_, _, acc, batch) => fp.merge(acc, partialOf(batch)),
                    (_, acc) => fp.finalized(acc.withColumn("__rk", rank)
                      .where(col("__rk") <= nKeep)).drop("__cnt"),
                    // component rows merge per attr value: only the
                    // batch's attr buckets are read and rewritten
                    KeyedState(Seq(attr), (_, _, batch) =>
                      batch.select(col(attr)
                        .cast(schemaF(attr).dataType).as(attr)))))
              case Some(WindowSpec(n2, args2, _))
                  if n2.equalsIgnoreCase("length") =>
                // live per-key sliding length window: a
                // flatMapGroupsWithState ring of the last N events per
                // key, select items re-evaluated over the ring on every
                // arrival ([[bufEval]] — the same interpreter the batch
                // expression window folds with; engine twin:
                // Streaming.lengthSliding). State is N events per key,
                // forever-bounded.
                val nRing = args2.head.toInt
                val need2 = Seq("event_id", "ts_ns", "user_id",
                  "event_type", "value")
                need2.foreach(c => if (!base.columns.contains(c))
                  fail(s"live length window reads event streams; " +
                    s"'${s.table}' lacks '$c'"))
                Streamed(bufferFold(ast, base, n2, { (ring0, e) =>
                  val ring = (ring0 :+ e).takeRight(nRing)
                  (ring, ring)
                }), LiveMode.Append)
              case Some(WindowSpec(n2, args2, _))
                  if n2.equalsIgnoreCase("session") =>
                // live session aggregation: built-in session_window in
                // APPEND mode (engine twin: Streaming.session) — a
                // session emits (merged, final) once the watermark
                // passes its close, then its state is dropped; output
                // columns mirror the batch text compile exactly
                Streamed(windowedAgg(ast, base,
                  session_window(col("ts"),
                    s"${args2.head / 1000000} milliseconds"),
                  Seq(unix_millis(col("session_window.start"))
                      .as("w_start_ms"),
                    unix_millis(col("session_window.end")).as("w_end_ms"))),
                  LiveMode.AppendFlushed)
              case Some(w) => fail("live deployment (v1) supports " +
                "stateless stages, timeBatch/session aggregation, and " +
                s"patterns; got window '${w.name}'")
            }
          case pt: PatternStream =>
            val (b, sel, outSchema) = patternParts(ast, pt)
            // rate over pattern matches LIVE (r14): matches accumulate
            // in an append-only fold carrying their emission order
            // (closing bound event's ts, spawn tie-break), and finish
            // runs the BATCH selection (rateOverMatches) — live ≡
            // batch by construction, the same accumulate-then-rank
            // trade the r12 count-mode outer joins made (rate is a
            // globally-ordered pick, inherently total-order; the
            // accumulated state is O(matches), distributed in
            // executor-held generations, never driver-resident).
            val rateP = ast.rate
            val outSchemaR =
              if (rateP.isEmpty) outSchema
              else outSchema ++ Seq(("__emit_ns", LongType),
                ("__sp_ts", LongType), ("__sp_id", LongType))
            val schema = StructType(outSchemaR.map { case (n, t) =>
              StructField(n, t) })
            implicit val enc: org.apache.spark.sql.Encoder[
              org.apache.spark.sql.Row] =
              org.apache.spark.sql.Encoders.row(schema)
            val proj = (bnd: Cep.Bindings) => {
              val base = sel.map { case (_, _, _, extract) =>
                extract(bnd) }
              org.apache.spark.sql.Row.fromSeq(
                if (rateP.isEmpty) base
                else {
                  // the batch rate arm's exact order columns
                  // (compilePattern): emit at the max-ts bound event,
                  // tie-break by the spawning (first) bound event
                  val evs = bnd.valuesIterator.flatten.toSeq
                  val sp2 = evs.minBy(e => (e.tsNs, e.eventId))
                  base ++ Seq(evs.map(_.tsNs).max, sp2.tsNs, sp2.eventId)
                })
            }
            if (b.steps.exists(_.isInstanceOf[Cep.Absent])) {
              // ABSENCE-bearing pattern (`not X for T`) deployed LIVE:
              // the timed re-fold — absence deadlines register
              // event-time timers against the source watermark, so a
              // "nothing arrived" match emits when the watermark
              // passes its deadline, not at a next event that may
              // never come (engine twins: Streaming.cepAbsence /
              // cepAbsenceTws). Reads the WATERMARKED declared view
              // (clean under @OnError); flush sentinels drop here,
              // above the source watermark node, and AppendFlushed makes
              // the finite-replay harness feed them so the last
              // deadlines resolve.
              val evT = envLookup(view, "events").getOrElse(
                fail("a live absence pattern reads the watermarked " +
                  "'events' stream"))
                .filter(col("ts") < Streaming.flushCutoff)
                .select(col("event_id").as("eventId"),
                  col("ts_ns").as("tsNs"), col("user_id").as("userId"),
                  col("event_type").as("eventType"), col("value"),
                  col("ts"))
                .as[Streaming.EvT]
              rateP match {
                case None => Streamed(b.selectStreamTimed(evT)(proj).toDF(),
                  LiveMode.AppendFlushed)
                case Some(r) =>
                  // absence deadlines resolve off the watermark, so
                  // the fold needs the flush-sentinel batches
                  patternRateFold(
                    b.selectStreamTimed(evT)(proj).toDF(), r,
                    outSchema.map(_._1), schema, needsFl = true)
              }
            } else rateP match {
              case None =>
                Streamed(b.selectStream(evDs)(proj).toDF(), LiveMode.Append)
              case Some(r) =>
                patternRateFold(b.selectStream(evDs)(proj).toDF(), r,
                  outSchema.map(_._1), schema, needsFl = false)
            }
          case jx: JoinStream
              if dmlInfos.contains(jx.left.table) ||
                 dmlInfos.contains(jx.right.table) =>
            enrichStage(ast, jx, dmlInfos, statelessAsts, statefulStreams,
              partKey, srcTs, wmNs)

          case j: JoinStream
              if liveAggDefs.contains(j.left.table) ||
                 liveAggDefs.contains(j.right.table) =>
            // named bound, not a confusing window diagnostic: the
            // stream ⋈ aggregation `within … per` join stays a batch
            // surface (sql_join_aggregation); live reads of the
            // cascade go through the aggregation-read fold
            // (sql_app_incremental_live)
            fail("live deployment (v1) does not join a `define " +
              "aggregation` table — read it with `from <agg> within " +
              "… per '…'` (deployed via the keyed fold), or use the " +
              "batch replay (compileApp) for the stream-aggregation " +
              "join")
          case j: JoinStream => (j.left.window, j.right.window) match {
            // windowed stream-stream join deployed LIVE: Spark's
            // watermarked interval join — the band [-Tl, Tr] becomes
            // the event-time range condition Structured Streaming uses
            // to size and EVICT both sides' join state (the engine twin
            // Streaming.streamStreamJoin's exact machinery)
            case (Some(lw2 @ WindowSpec(ln, largs, _)),
                  Some(rw2 @ WindowSpec(rn, rargs, _)))
                if Seq(ln, rn).forall(n2 =>
                  n2.equalsIgnoreCase("time") ||
                    n2.equalsIgnoreCase("timebatch")) =>
              Seq(lw2, rw2).foreach(
                requireEpochTb(_, "stream-stream join sides"))
              // timeBatch sides ride the SAME watermarked interval
              // join: bucket co-membership implies |Δts| < T, so the
              // [-T, T] hull is the eviction band Spark needs and the
              // bucket rule refines it as a residual conjunct
              if (!hasEqui(j.on))
                fail("a windowed stream-stream join needs an equality " +
                  "conjunct in its on-clause")
              // outer directions ride the SAME watermarked interval
              // join: Spark emits the null-padded side once the
              // watermark passes the band (state eviction doubles as
              // the no-match proof), so outer needs the flush-sentinel
              // Append channel (AppendFlushed) where inner emits
              // matches as they arrive (Append)
              val jType = j.joinType match {
                case "inner" | "left_outer" | "right_outer" |
                     "full_outer" => j.joinType
                case other => fail("live windowed joins are inner or " +
                  s"left/right/full outer (v1), got '$other'")
              }
              val joinAgg = ast.select.exists(it => containsAgg(it.e)) ||
                ast.groupBy.nonEmpty
              val la = j.leftAlias.getOrElse(fail("windowed join sides " +
                "need aliases to qualify their timestamps"))
              val ra = j.rightAlias.getOrElse(fail("windowed join sides " +
                "need aliases to qualify their timestamps"))
              def sideDf(ss: SingleStream, alias: String): DataFrame = {
                if (statefulStreams.contains(ss.table))
                  fail(s"live deployment (v1): '${ss.table}' is an " +
                    "aggregation output — it cannot feed a join")
                val b0 = envLookup(view, ss.table).getOrElse(fail("live deployment " +
                  s"reads declared streams; '${ss.table}' is neither " +
                  "the source nor an earlier insert-into target"))
                val b1 = ss.filter.fold(b0)(f => liveWhere(b0, f))
                if (!b1.columns.contains("ts"))
                  fail(s"join side '${ss.table}' lost its 'ts' column — " +
                    "live windowed joins need the event-time column")
                // flush sentinels ride through every liveWhere filter
                // (OR-extended) to keep advancing the watermark; drop
                // them HERE, above the source watermark node, so they
                // never enter the join — an outer join would otherwise
                // pair each sentinel with itself across the two sides
                val b2 = b1.filter(
                  col("ts") < graft.engine.Streaming.flushCutoff)
                // the source watermark tag propagates through the
                // rename (`alias_ts` keeps the -T60000ms annotation), so
                // re-declaring it here would be a disallowed watermark
                // redefinition — the interval join's state eviction
                // keys off the inherited tag
                b2.columns.foldLeft(b2)((d, c) =>
                  d.withColumnRenamed(c, s"${alias}_$c"))
              }
              def qual(parts: List[String]): String = parts match {
                case q :: f :: Nil => s"${q}_$f"
                case f :: Nil => fail(s"qualify '$f' with its side's " +
                  "alias in a windowed join")
                case other => fail(s"bad reference ${other.mkString(".")}")
              }
              val cond = sqlOfWith(j.on, qual)
              val isTb = (n2: String) => n2.equalsIgnoreCase("timebatch")
              val anyTb = isTb(ln) || isTb(rn)
              val (lo, hi) =
                if (anyTb) {
                  val h = math.max(largs.head, rargs.head)
                  if (j.unidirectional) (0L, h) else (-h, h)
                } else if (j.unidirectional) (0L, rargs.head)
                else (-largs.head, rargs.head)
              // tl - tr ∈ [lo, hi]  ⇔  r_ts ∈ [l_ts - hi, l_ts - lo]
              def ivl(ns: Long): String =
                s"interval ${math.abs(ns / 1000000L)} milliseconds"
              val band =
                s"${ra}_ts >= ${la}_ts - ${ivl(hi)} and " +
                  s"${ra}_ts ${if (lo <= 0) "<=" else "<="} ${la}_ts " +
                  s"${if (lo <= 0) "+" else "-"} ${ivl(lo)}"
              val aSide = sideDf(j.left.copy(window = None), la)
              val bSide = sideDf(j.right.copy(window = None), ra)
              // per-direction retention residual when a side is a
              // tumbling chunk: the EARLIER side's rule applies at the
              // later event's arrival (arrival order = (ts_ns,
              // event_id), so every pair belongs to one direction)
              val resid =
                if (!anyTb) ""
                else {
                  Seq((la, aSide), (ra, bSide)).foreach { case (al, df2) =>
                    Seq("ts_ns", "event_id").foreach(c =>
                      if (!df2.columns.contains(s"${al}_$c"))
                        fail(s"timeBatch join sides need '$c' for " +
                          s"arrival order; side '$al' lost it"))
                  }
                  def beforeL(x: String, y: String) =
                    s"(${x}_ts_ns < ${y}_ts_ns or (${x}_ts_ns = " +
                      s"${y}_ts_ns and ${x}_event_id < ${y}_event_id))"
                  def ret(later: String, earlier: String, n2: String,
                      t: Long) =
                    if (isTb(n2))
                      s"(${earlier}_ts_ns div ${t}L) = " +
                        s"(${later}_ts_ns div ${t}L)"
                    else s"${later}_ts_ns - ${earlier}_ts_ns <= ${t}L"
                  val d1 = s"(${beforeL(ra, la)} and " +
                    s"${ret(la, ra, rn, rargs.head)})"
                  val d2 = s"(${beforeL(la, ra)} and " +
                    s"${ret(ra, la, ln, largs.head)})"
                  " and (" +
                    (if (j.unidirectional) d1 else s"$d1 or $d2") + ")"
                }
              val joined = aSide
                .join(bSide, expr(s"($cond) and ($band)$resid"), jType)
              if (ast.rate.nonEmpty && !joinAgg) {
                // output rate limiting OVER the live windowed join: the
                // rated events are the pair EMISSIONS — emission
                // instant greatest(l.ts, r.ts), tie-broken by the side
                // event ids (the batch rateOverJoin's exact order; an
                // OUTER join's null-padded row emits at its preserved
                // side's own arrival instant — greatest skips the null
                // side, ids coalesce to -1, the batch's exact rule).
                // Time modes fold per-interval extreme picks
                // (KeyedState on the interval — chunking-invariant: a
                // row's interval is a function of its own emit ts, so
                // cross-trigger merges commute NO MATTER WHICH trigger
                // materializes it — which is what makes outer rows,
                // materialized only at watermark expiry, safe here);
                // count modes over an INNER join ride the single
                // stream's running counter ([[countRateFold]] — pair
                // emission is trigger-monotone under the in-order
                // replay). Count modes over an OUTER join
                // (r12) cannot: a null-pad materializes at watermark
                // expiry, AFTER later-emission pairs were already
                // counted. The emission ORDER itself is still total
                // (emit ts + side ids), so the outer form accumulates
                // emissions with their order key — sink-like append,
                // the same state class as the enrichment __out
                // channel — and applies the every-Nth pick ONCE at
                // finish over the ordered emissions, the batch
                // rateOverJoin's exact rank-and-pick
                // (chunking-invariant by construction).
                val rJ = ast.rate.get
                val itemsJ = itemsOf(ast)
                Seq(la, ra).foreach { al =>
                  Seq("ts_ns", "event_id").foreach(c =>
                    if (!joined.columns.contains(s"${al}_$c"))
                      fail(s"rate over a join needs '$al.$c' to " +
                        "define pair emission order"))
                }
                val emitTs = greatest(col(s"${la}_ts_ns"),
                  col(s"${ra}_ts_ns"))
                val ordJ = struct(emitTs.as("t"),
                  coalesce(col(s"${la}_event_id"), lit(-1L)).as("il"),
                  coalesce(col(s"${ra}_event_id"), lit(-1L)).as("ir"))
                val outColsJ = itemsJ.map(_._2)
                val feedJ = joined.select(itemsJ.map { case (it, a2, _) =>
                  expr(sqlOfWith(it.e, qual)).as(a2) } :+
                  emitTs.as("__emit_ts") :+ ordJ.as("__emit_ord"): _*)
                (rJ.mode, rJ.timeNs, rJ.count) match {
                  case ("all", _, _) => // emission batching only; an
                    // outer join still needs the sentinel Append
                    // channel for its tail null-pads
                    Streamed(feedJ.drop("__emit_ts", "__emit_ord"),
                      if (jType == "inner") LiveMode.Append
                      else LiveMode.AppendFlushed)
                  case (m @ ("first" | "last"), Some(t), None) =>
                    val withIv = feedJ.withColumn("__iv",
                      expr(s"__emit_ts div ${t}L")).drop("__emit_ts")
                    val schemaR = withIv.schema
                    def pickRow(df2: DataFrame): DataFrame = {
                      val rowS = struct(withIv.columns.map(col): _*)
                      val pick =
                        if (m == "first") min_by(rowS, col("__emit_ord"))
                        else max_by(rowS, col("__emit_ord"))
                      df2.groupBy("__iv").agg(pick.as("__row"))
                        .select(withIv.columns.map(c =>
                          col(s"__row.$c").as(c)): _*)
                    }
                    Folded(schemaR, () => singleFold(withIv, schemaR,
                        (_, _, acc, batch) =>
                          pickRow(acc.unionByName(batch)),
                        (_, acc) => acc.select(outColsJ.map(col): _*),
                        KeyedState(Seq("__iv"), (_, _, batch) =>
                          batch.select(col("__iv"))))
                        .copy(needsFlush = jType != "inner"))
                  case (m @ ("first" | "last"), None, Some(nEv))
                      if jType != "inner" =>
                    // OUTER count mode: rank-and-pick at finish (see
                    // the channel comment above)
                    val schemaC = feedJ.drop("__emit_ts").schema
                    val protoC = feedJ.drop("__emit_ts", "__emit_ord")
                    Folded(protoC.schema, () => LiveFold(feedJ,
                        Seq(("out", schemaC, AppendState)),
                        (_, _, _, batch) =>
                          Map("out" -> batch.drop("__emit_ts")),
                        (_, st) => {
                          val ranked = globalRank(st("out"),
                            Seq(col("__emit_ord")), "__rn")
                          val kept =
                            if (m == "first")
                              ranked.filter((col("__rn") - 1) % nEv === 0)
                            else ranked.filter(col("__rn") % nEv === 0)
                          kept.orderBy("__rn")
                            .select(outColsJ.map(col): _*)
                        }, needsFlush = true))
                  case (m @ ("first" | "last"), None, Some(nEv)) =>
                    countRateFold(feedJ.drop("__emit_ts"), m, nEv)
                  case ("snapshot", _, _) =>
                    fail("output snapshot over a join (v1): insert the " +
                      "join into a stream and snapshot that stream — a " +
                      "snapshot of pair state has no single emission row")
                  case _ =>
                    fail("unreachable: rate clause validated at parse")
                }
              } else if (joinAgg) {
                if (ast.rate.nonEmpty)
                  fail("live rate limiting above a join aggregation is " +
                    "not deployed (v1) — rate the join, aggregate in a " +
                    "downstream stage")
                // ONE-STAGE windowed-join aggregation: `join … select
                // agg(...) group by …` compiles to the watermarked
                // interval join feeding a per-micro-batch ALGEBRAIC
                // keyed fold (FoldAlg algebra partials merged
                // componentwise across triggers — state is one
                // component row per group, per-trigger write cost
                // O(batch-touched buckets)). The batch twin is the
                // global aggregation over all band pairs, so the fold
                // equals batch replay under any chunking. Spark itself
                // cannot chain an unwindowed Update-mode aggregation
                // above a stream-stream join, which is exactly why
                // this runs through the fold channel; a time-windowed
                // aggregation above a join stays the chained
                // stateful-operator form (insert into a named stream,
                // then #window.timeBatch it).
                // OUTER joins fold too (r11): the keyed algebraic
                // merge is arrival-agnostic, so a null-padded row
                // materializing at watermark expiry folds into its
                // group whenever its trigger carries it — the runner's
                // flush-sentinel batches (needsFlush) make the tail's
                // pads materialize before finish, and null group keys
                // merge via FoldAlg's null-safe keyed merge
                // having applies ONCE at finish over the finalized
                // groups (alias refs, like the batch compile); order,
                // offset and limit follow in [[deployApp]]
                val items = itemsOf(ast)
                val keyItems = items.filter(!_._3)
                // the select item's scalar wrapper is re-evaluated at
                // finish over the merged components
                val fp = FoldAlg.plan(items,
                  FoldAlg.groupKeys("live join aggregation", ast.groupBy,
                    items), (_, a2) => Ref(List(a2)), ast.having)
                val feed = joined.select(
                  (if (keyItems.isEmpty) fp.keyCols else keyItems.map {
                    case (it, a2, _) =>
                      expr(sqlOfWith(it.e, qual)).as(a2) }) ++
                  fp.argCols(sqlOfWith(_, qual)): _*)
                val schemaJ = fp.partial(feed).schema
                Folded(schemaJ, () => singleFold(feed, schemaJ,
                    (_, _, acc, batch) => fp.merge(acc, fp.partial(batch)),
                    (_, acc) => fp.finalized(acc),
                    KeyedState(fp.keys, (_, _, batch) =>
                      batch.select(fp.keyCols: _*)))
                    .copy(needsFlush = jType != "inner"))
              } else {
              // carry the non-nullable side's watermarked event-time
              // columns through the projection (dropped again if this
              // join is the sink) so a downstream Append-mode window
              // stage can bucket and evict by them — Spark's chained
              // stateful-operator path (interval join → time-window
              // aggregation); the alias metadata keeps the watermark
              // tag. full outer has no never-null side, so nothing
              // carries (a downstream window stage diagnoses the
              // missing 'ts' itself).
              val carrySide = jType match {
                case "inner" | "left_outer" => Some(la)
                case "right_outer" => Some(ra)
                case _ => None
              }
              val aliases = itemsOf(ast).map(_._2).toSet
              val carry = carrySide.fold(Seq.empty[String])(s0 =>
                Seq("ts", "ts_ns").filter(c =>
                  joined.columns.contains(s"${s0}_$c") &&
                    !aliases.contains(c)))
              Streamed(joined.select(itemsOf(ast).map { case (it, a2, _) =>
                expr(sqlOfWith(it.e, qual)).as(a2) } ++
                carry.map(c =>
                  col(s"${carrySide.get}_$c").as(c)): _*),
                if (jType == "inner") LiveMode.Append
                else LiveMode.AppendFlushed, carry)
              }
            case _ => fail("live deployment joins need #window.time(T) " +
              "or #window.timeBatch(T) on both sides (the watermarked " +
              "stream-stream join); count-window join sides need the " +
              "global arrival rank and are batch-replay surfaces (v1)")
          }
        }
        }
        // the one exit. A stage inserting into a stream registers it —
        // a folded stage as an empty frame of its output schema, which
        // later stages refuse to read as an aggregation output
        ast.action.collect { case InsertInto(t) if dmlAct.isEmpty => t }
          .foreach { t =>
            val (df, stateless) = stage match {
              case Streamed(d, m, _) => (d, m == LiveMode.Append)
              case Folded(sch, _) => (emptyOf(src.sparkSession, sch), false)
            }
            if (!stateless) statefulStreams += t
            // only genuinely chunking-invariant stages are
            // batch-re-derivable (plain filter/projection): windowed,
            // rate-limited, joined, and fMGWS stages all carry state
            // across triggers, so re-deriving them per BATCH would
            // diverge from their streaming semantics — a fold feed
            // through one is diagnosed instead
            else if (partKey.isEmpty && ast.rate.isEmpty &&
                (ast.stream match {
                  case ss: SingleStream => ss.window.isEmpty
                  case _ => false
                }))
              statelessAsts :+= (t -> ast)
            // multi-writer fan-in: union, as in compileApp — but an
            // aggregated writer cannot merge with another stream
            // mid-topology
            env += t -> (env.get(t) match {
              case Some(prev) =>
                if (!stateless || statefulStreams.contains(t))
                  fail(s"live deployment (v1): multi-writer stream '$t' " +
                    "cannot take an aggregated writer")
                if (prev.columns.toSet != df.columns.toSet)
                  fail(s"queries inserting into '$t' disagree on its " +
                    s"schema: [${prev.columns.mkString(", ")}] vs " +
                    s"[${df.columns.mkString(", ")}]")
                prev.unionByName(df)
              case None => df
            })
          }
        val stageName = name.orElse(ast.action.map(_.target))
        val isOut = stageName.contains(out) || dmlAct.exists(_.target == out)
        // deployApp composes the OUT query's order by, offset and limit
        // once over the finished result; a mid-topology cut would run
        // per trigger (or not at all) — never the batch replay's cut
        if (!isOut && (ast.limit.nonEmpty || ast.offset.nonEmpty))
          fail("live deployment (v1) applies `limit`/`offset` to the " +
            s"out query '$out' only; stage '${stageName.getOrElse("?")}' " +
            "cuts mid-topology — move the cut to the out query, or use " +
            "the batch replay (compileApp)")
        if (isOut)
          outStage = Some(ast -> (stage match {
            // built here, while dmlInfos / statelessAsts are what the
            // stage compiled against; the runner pins the functions
            // defined so far
            case Folded(sch, build) =>
              val lf = build().copy(fns = scriptFns)
              Folded(sch, () => lf)
            // the sink never shows the carried event-time helper columns
            case Streamed(df, mode, carried) if carried.nonEmpty =>
              Streamed(df.drop(carried: _*), mode)
            case streamed => streamed
          }))
    }
    scriptFns = Map.empty // live apps carry their own defines
    val liveStmts = splitStatements(app)
    // @OnError(action='STREAM') deploys LIVE too: the fault/clean
    // split is a stateless pair of filters over the watermarked
    // source, so it composes onto the incremental plan exactly as it
    // does onto the batch replay (onErrorSplit) — `!S` and S's clean
    // view go into the read environment before any stage compiles
    onErrorStreams(liveStmts).foreach { sN =>
      val baseDf = envLookup(env, sN).getOrElse(fail("@OnError live deployment " +
        s"annotates the source stream; '$sN' is not declared"))
      val (fault, clean) = onErrorSplit(baseDf, liveStmts, sN)
      env += ("!" + sN) -> fault
      env += sN -> clean
    }
    liveStmts.foreach { case (name, body, _) =>
      val head = body.split("\\s+", 2).headOption.getOrElse("")
      if (head.equalsIgnoreCase("define")) parseDefine(body).foreach {
        // stream schemas come from the source; functions inline into
        // the incremental plan like any expression
        case DefStream(_) => ()
        case DefFunction(b) => registerScriptFn(b)
        case DefTable(t, sch) => tableDefs += t -> sch
        case DefWindow(w, spec) => liveWindowDefs += w -> spec
        // the grain cascade's finest-grain partial table becomes keyed
        // fold state (see the aggregation-read case in runStage)
        case DefAggregation(a, adef) =>
          if (!adef.source.equalsIgnoreCase("events"))
            fail("a live `define aggregation` (v1) aggregates the " +
              s"source stream 'events'; got '${adef.source}'")
          liveAggDefs += a -> adef
        // the replay twin of a rate source: tick generation is driven
        // by the STREAM'S event-time span, tracked incrementally in
        // fold state (see the trigger-read case in runStage); a real
        // deployment points the same read at a wall-clock rate source
        // (engine twin: Ops.triggerGapfill)
        case DefTrigger(t, ivNs) => liveTriggerDefs += t -> ivNs
      }
      else if (head.equalsIgnoreCase("partition")) {
        // deployed LIVE with the batch compile's rewrite: the key
        // prepends to every inner grouping on the incremental plan;
        // hoisted DML writers re-enter runStage partKey-less over the
        // GLOBAL env (the rewritten AST carries the partition's whole
        // semantics, so enrichment reads and live folds recompile it)
        val pb = parsePartition(body)
        if (statefulStreams.contains(pb.src))
          fail(s"live deployment (v1): '${pb.src}' is an aggregation " +
            "output — it cannot feed a partition block")
        val baseDf = envLookup(env, pb.src).getOrElse(fail("live " +
          s"deployment reads declared streams; '${pb.src}' is neither " +
          "the source nor an earlier insert-into target"))
        // the sentinel OR keeps the label filter above the source
        // watermark node, so flush sentinels (which may match no range)
        // still advance the watermark
        val view = pb.view(baseDf, _ || col("ts") >= Streaming.flushCutoff)
        pb.queries(tableDefs.contains).foreach {
          case PartQuery(qName, ast, Some(_)) =>
            runStage(qName, ast, env, None)
          case PartQuery(qName, ast, None) =>
            runStage(qName, ast, env + (pb.src -> view), Some(pb.key))
        }
      }
      else if (head.equalsIgnoreCase("from"))
        runStage(name, new P(lex(body)).query(), env, None)
      else if (head.equalsIgnoreCase("update") ||
               head.equalsIgnoreCase("delete"))
        // the on-demand store mutations (batch surface, r16)
        fail("on-demand DML is point-in-time by definition — it has " +
          "no stream to trigger it live; run it on the batch surface " +
          "(compileApp) against the replayed state")
      else fail(s"live deployment cannot run: '${body.take(40)}...'")
    }
    outStage.getOrElse(
      fail(s"app has no query named or inserting into '$out'"))
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
                    case KeyedState(ks, _, _) => Some((kdf: DataFrame) =>
                      // bucket-restricted read: the key values hash
                      // with the SAME bucketCol the write path tags
                      // rows with, so only their buckets' latest
                      // generations are scanned — O(batch key-buckets)
                      // generations per trigger, not O(state). Guard: a
                      // caller whose key relation doesn't cover the
                      // state keys by name gets the full read — and
                      // RECORDS it (an unexpected full read must show
                      // in the read-prune gate, not pass silently).
                      if (!ks.forall(kdf.columns.contains)) {
                        foldReadProbe.foreach(
                          _ += ((gen + 1, s"__fullread_fallback:$n",
                            -1L)))
                        (gens.full(sp, n, m), kdf)
                      } else if (!gens.has(n)) {
                        // no generation of this state yet (every first
                        // trigger): the pruned read is empty whatever
                        // the keys are — skip the keyread job
                        (gens.keyed(sp, n, Nil), kdf)
                      } else {
                        // ONE one-STAGE job (r18: partition-local +
                        // driver distinct by [[keyOf]], no Exchange):
                        // distinct keys + their bucket. Small key sets
                        // (every harness batch) come back as a
                        // LocalRelation so the caller's semi-join
                        // re-evaluates nothing; past keyLocalCap only
                        // bucket ids + the original relation. A partition
                        // past the cap ships a truncation marker (None):
                        // the global distinct passes it too, and the
                        // driver receives ≤ partitions × keyLocalCap rows
                        val kCols = kdf.columns.toSeq
                        val rows = tagged(sp, s"keyread:$n") {
                          val parts = kdf
                            .select(kCols.map(col) :+
                              gens.bucketCol(ks).cast("int").as("__b"): _*)
                            .rdd.mapPartitions(it =>
                              Iterator.single(distinctKeys(it, keyLocalCap)))
                            .collect()
                          if (parts.contains(None)) None
                          else distinctKeys(parts.iterator.flatten.flatten,
                            keyLocalCap)
                        }
                        rows match {
                          case None =>
                            // over-cap: RECORD the fallback (r15 — the
                            // scale path must show in the probe, so a
                            // rehearsal can assert it actually fired);
                            // the count records the cap crossing
                            foldReadProbe.foreach(
                              _ += ((gen + 1, s"__keycap_fallback:$n",
                                keyLocalCap + 1L)))
                            (gens.keyed(sp, n, tagged(sp, s"keyread2:$n")(
                              distinctIntsLocal(kdf.select(
                                gens.bucketCol(ks).cast("int").as("__b"))))),
                              kdf)
                          case Some(rs) =>
                            (gens.keyed(sp, n,
                              rs.map(_.getAs[Int]("__b")).distinct),
                              sp.createDataFrame(
                                java.util.Arrays.asList(rs.map(r =>
                                  org.apache.spark.sql.Row.fromSeq(
                                    r.toSeq.dropRight(1))): _*),
                                StructType(kdf.schema.fields)))
                        }
                      })
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
