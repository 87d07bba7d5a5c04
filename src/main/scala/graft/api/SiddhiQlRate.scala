package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Cep, Streaming}

/** [[SiddhiQL]]'s output rate limiter, one stage for [[compileApp]] and
  * [[deployApp]] alike — Siddhi's `OutputRateLimiter`, which does not
  * care what its selector read (SURVEY §2.7). Every rated shape first
  * lowers to EMISSION-ORDERED rows: its output columns plus
  * `__emit_ts` (the emission instant, ns) and `__emit_ord` (a total
  * emission order):
  *
  *  - single stream ([[streamRows]]): `ts_ns`, `(ts_ns, event_id)`;
  *  - join ([[joinRows]]): the later side's `ts_ns`, `(t, left id,
  *    right id)`, a null-padded side's id coalesced to -1;
  *  - pattern ([[patternRows]]): the closing bound event's ts,
  *    `(emit, spawn ts, spawn id)`;
  *  - timeBatch flush rows ([[rateOverFlushes]]): the bucket end, the
  *    bucket.
  *
  * [[rateSelect]] is then the one per-mode selection, and the live
  * lowerings reuse its pieces: [[intervalFold]] (time modes over
  * folded rows), [[rateLogFold]] (accumulate, then [[rateSelect]]) and
  * [[countRateFold]]. Mixed into `object SiddhiQL`. */
private[api] trait SiddhiQlRate extends Serializable {
  self: SiddhiQlFrontend with SiddhiQlCompiler with SiddhiQlLive
    with SiddhiQlLiveStages =>

  // ---------- the selection ----------

  /** Output rate limiting over emission-ordered `rows`, projected to
    * `outCols`:
    *  - `all` → the rows (replayed batches concatenate to exactly the
    *    input);
    *  - time `first|last` → one row per emission interval
    *    ([[intervalPick]]);
    *  - count `first|last` → the first/last row of every N in global
    *    emission order, `last` keeping the partial tail: emission ranks
    *    ride the distributed prefix sum ([[globalRank]]), then a
    *    chunk-partitioned pick — no data-sized single-task window;
    *  - `snapshot` → [[intervalPick]] (last) plus the gap fill of
    *    [[intervalTail]]. */
  private[api] def rateSelect(rows: DataFrame, outCols: Seq[String],
      rate: Rate): DataFrame = (rate.mode, rate.timeNs, rate.count) match {
    case ("all", _, _) => rows.select(outCols.map(col): _*)
    case (m, Some(t), None) =>
      intervalTail(intervalPick(rows, t, last = m != "first"), outCols, rate)
    case (m @ ("first" | "last"), None, Some(n)) =>
      val pick = if (m == "first") "min" else "max"
      globalRank(rows, Seq(col("__emit_ord")), "__rn")
        .withColumn("__keep", expr(s"$pick(__rn) over (partition by " +
          s"(__rn - 1) div ${n}L)"))
        .where(col("__rn") === col("__keep"))
        .select(outCols.map(col): _*)
    case _ => fail("unreachable: rate clause validated at parse")
  }

  /** One row per emission interval `__iv` = `__emit_ts div tNs`: the
    * first or last of `rows` by `__emit_ord`. Mergeable — picking again
    * over the union of two picks (their `__iv` dropped) equals one pick
    * over the union of their inputs — so it is both the batch selection
    * and the merge of the live [[intervalFold]]. */
  private[api] def intervalPick(rows: DataFrame, tNs: Long,
      last: Boolean): DataFrame = {
    val row = struct(rows.columns.map(col): _*)
    rows.groupBy(expr(s"__emit_ts div ${tNs}L").as("__iv"))
      .agg((if (last) max_by(row, col("__emit_ord"))
        else min_by(row, col("__emit_ord"))).as("__row"))
      .select(col("__iv") +:
        rows.columns.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** What follows [[intervalPick]]: the picked rows for time
    * `first|last`; for `snapshot`, the one gap fill — every interval
    * from the first picked to the last, an empty one carrying the prior
    * snapshot forward, behind a leading `w_end_ms` (the interval end;
    * the implicit-column convention of timeBatch's `w_start_ms`).
    * Snapshot cardinality is one row per interval, so the single-task
    * window is O(span/T), never O(rows). */
  private[api] def intervalTail(picked: DataFrame, outCols: Seq[String],
      rate: Rate): DataFrame =
    if (rate.mode != "snapshot") picked.select(outCols.map(col): _*)
    else {
      val ticks = picked
        .agg(min("__iv").as("__lo"), max("__iv").as("__hi"))
        .where(col("__lo").isNotNull)
        .select(explode(sequence(col("__lo"), col("__hi"))).as("__iv"))
      val w = Window.orderBy("__iv")
        .rowsBetween(Window.unboundedPreceding, 0)
      ticks.join(picked, Seq("__iv"), "left_outer")
        .select(((col("__iv") + 1) * (rate.timeNs.get / 1000000L))
          .as("w_end_ms") +: outCols.map(c =>
            last(col(c), ignoreNulls = true).over(w).as(c)): _*)
    }

  // ---------- the shapes' emission-ordered rows ----------

  /** A rated query inside `partition with` would rate per key
    * instance; both surfaces refuse it rather than rate globally. */
  private[api] def requireUnpartitionedRate(ast: Ast,
      partKey: Option[String]): Unit =
    if (partKey.nonEmpty && ast.rate.nonEmpty)
      fail("output rate limiting inside a partition block is " +
        "per-key-instance semantics — not compiled (v1); rate the " +
        "stream at top level (global) or aggregate per key " +
        "explicitly")

  /** The select of a rated plain stream: projections only — an
    * aggregate needs a timeBatch window to define flush emissions. */
  private[api] def plainRateChecks(ast: Ast): Unit = {
    if (ast.having.nonEmpty)
      fail("output rate limiting (v1) has no having clause")
    if (ast.groupBy.nonEmpty)
      fail("output rate limiting (v1) applies to plain `from S[filter] " +
        "select ...` queries, or to an UNGROUPED windowed aggregation " +
        "(add #window.timeBatch(T)); grouped rates are not defined")
    itemsOf(ast).foreach { case (_, a, isAgg) =>
      if (isAgg) fail(s"output rate limiting over an aggregate ('$a') " +
        "needs a batch window (#window.timeBatch(T)) to define flush " +
        "emissions")
    }
  }

  /** A plain stream's rated rows over `base` (the filtered input of
    * `table`): the projected select items, each emitted at its own
    * arrival. */
  private[api] def streamRows(ast: Ast, base: DataFrame,
      table: String): DataFrame = {
    plainRateChecks(ast)
    if (!base.columns.contains("ts_ns") ||
        !base.columns.contains("event_id"))
      fail(s"output rate limiting needs 'ts_ns' and 'event_id' on " +
        s"'$table' to define emission order")
    base.select(itemsOf(ast).map { case (it, a, _) =>
      expr(sqlOf(it.e)).as(a) } :+ col("ts_ns").as("__emit_ts") :+
      struct(col("ts_ns"), col("event_id")).as("__emit_ord"): _*)
  }

  /** The checks of a rate over a windowed aggregation, on both
    * surfaces: the rated events are the window's FLUSH rows, so the
    * window is an epoch-aligned timeBatch, ungrouped (one flush row per
    * window), and every select item aggregates or is a constant.
    * Returns the window length (ns). */
  private[api] def windowRateChecks(ast: Ast, w: WindowSpec,
      base: DataFrame, table: String): Long = {
    if (ast.having.nonEmpty)
      fail("output rate limiting (v1) has no having clause")
    val tb = w match {
      case tb: TimeBatch => tb
      case _ => fail("output rate limiting over a window (v1) supports " +
        s"#window.timeBatch(T); '#window.${w.name.toLowerCase}' " +
        "emissions are per-event or unordered")
    }
    requireEpochTb(tb, "output rate limiting over a window")
    if (ast.groupBy.nonEmpty)
      fail("output rate limiting over a windowed aggregation (v1) is " +
        "ungrouped — one flush row per window; drop the group by")
    val items = itemsOf(ast)
    items.foreach { case (it, a, isAgg) =>
      if (!isAgg && refsAttr(it.e))
        fail(s"rate-limited windowed select item '$a' must aggregate " +
          "(or be a constant) — the flush row is the emission")
    }
    if (!items.exists(_._3))
      fail("a rate-limited windowed query needs an aggregate select " +
        "item (drop the window to rate-limit raw events)")
    if (!base.columns.contains("ts_ns"))
      fail(s"windowed rate limiting needs 'ts_ns' on '$table'")
    tb.t
  }

  /** Output rate limiting over a timeBatch's FLUSH rows (`flush`: the
    * bucket `__wb` + output attrs, one row per bucket), each emitted at
    * its bucket end: `w_end_ms` leads the output, `__emit_ts` is
    * `w_end_ms` × 10⁶ (rate units are whole milliseconds, so interval
    * arithmetic stays exact) and `__wb` orders the rows. Flush
    * cardinality is span/Tw, so every pick here is O(flushes). The
    * batch compile and the live flush fold's finish both run it. */
  private[api] def rateOverFlushes(flush: DataFrame, outCols: Seq[String],
      twNs: Long, rate: Rate): DataFrame = {
    val end = (col("__wb") + 1) * lit(twNs / 1000000L)
    val rows = flush.select(end.as("w_end_ms") +: outCols.map(col) :+
      (end * lit(1000000L)).as("__emit_ts") :+ col("__wb").as("__emit_ord")
      : _*)
    rateSelect(rows,
      if (rate.mode == "snapshot") outCols else "w_end_ms" +: outCols, rate)
  }

  /** A join's rated rows: its OUTPUT pairs, each emitted when its
    * LATER side arrived (an outer join's null-padded row at its
    * preserved side's own arrival — `greatest` skips the null side),
    * tie-broken by the side event ids. Both sides are aliased event
    * streams (`la`, `ra`), so the order is total; `ref(alias, column)`
    * names a side's column in `joined` and `render` a select item. */
  private[api] def joinRows(ast: Ast, joined: DataFrame, la: String,
      ra: String, ref: (String, String) => String,
      render: Expr => String): DataFrame = {
    if (ast.groupBy.nonEmpty || ast.select.exists(it => containsAgg(it.e)))
      fail("output rate limiting over a join rates the join's OUTPUT " +
        "events (v1) — no group by / aggregates (aggregate in a " +
        "downstream stage)")
    if (ast.having.nonEmpty)
      fail("output rate limiting (v1) has no having clause")
    if (ast.rate.exists(_.mode == "snapshot"))
      fail("output snapshot over a join (v1): insert the join into a " +
        "stream and snapshot that stream — a snapshot of pair state " +
        "has no single emission row")
    Seq(la, ra).foreach { a =>
      Seq("ts_ns", "event_id").foreach { c =>
        if (scala.util.Try(joined(ref(a, c))).isFailure)
          fail(s"output rate limiting over a join needs '$c' on side " +
            s"'$a' — pair emission order is (later ts, left id, " +
            "right id)")
      }
    }
    val t = greatest(col(ref(la, "ts_ns")), col(ref(ra, "ts_ns")))
    joined.select(itemsOf(ast).map { case (it, a, _) =>
      expr(render(it.e)).as(a) } :+ t.as("__emit_ts") :+
      struct(t.as("t"),
        coalesce(col(ref(la, "event_id")), lit(-1L)).as("il"),
        coalesce(col(ref(ra, "event_id")), lit(-1L)).as("ir"))
        .as("__emit_ord"): _*)
  }

  /** Output rate limiting over a batch JOIN: the pair emissions of
    * [[joinRows]] through [[rateSelect]]. */
  private[api] def rateOverJoin(ast: Ast, joined: DataFrame,
      j: JoinStream, rate: Rate): DataFrame = {
    val (la, ra) = (j.leftAlias, j.rightAlias) match {
      case (Some(a), Some(b)) => (a, b)
      case _ => fail("output rate limiting over a join needs ALIASED " +
        "stream sides (v1) to define the pair emission order")
    }
    rateSelect(joinRows(ast, joined, la, ra, (a, c) => s"$a.$c", sqlOf),
      itemsOf(ast).map(_._2), rate)
  }

  /** A pattern match's emission columns, appended to its select
    * values: the closing (max-ts) bound event's ts, then the SPAWN
    * (first bound) event's ts and id — matches one event closes at
    * once (one e2 completing several `every` runs) emit in spawn order,
    * Siddhi's in-chunk emission order. */
  private[api] val patternEmitCols: Seq[(String, DataType)] = Seq(
    ("__emit_ns", LongType), ("__sp_ts", LongType), ("__sp_id", LongType))
  private[api] def patternEmit(bnd: Cep.Bindings): Seq[Any] = {
    val evs = bnd.valuesIterator.flatten.toSeq
    val sp = evs.minBy(e => (e.tsNs, e.eventId))
    Seq(evs.map(_.tsNs).max, sp.tsNs, sp.eventId)
  }

  /** A pattern's rated rows: its matches (carrying
    * [[patternEmitCols]]) projected to `outCols`. */
  private[api] def patternRows(matches: DataFrame, outCols: Seq[String],
      rate: Rate): DataFrame = {
    if (rate.mode == "snapshot")
      fail("output snapshot over a pattern (v1): insert the matches " +
        "into a stream and snapshot that stream")
    matches.select(outCols.map(col) :+ col("__emit_ns").as("__emit_ts") :+
      struct(col("__emit_ns"), col("__sp_ts"), col("__sp_id"))
        .as("__emit_ord"): _*)
  }

  // ---------- batch ----------

  /** Output rate limiting of a single stream under batch replay (engine
    * twins: graft.engine.Ops.rateLimit / rateLimitEvents /
    * rateLimitSnapshot): a plain stream rates its projected events
    * ([[streamRows]]), a timeBatch aggregation its flush rows
    * ([[rateOverFlushes]]). Sliding windows and unwindowed aggregates
    * combine with rate limiting in ways batch replay can't reproduce
    * faithfully, so they fail fast rather than mis-compile. */
  private[api] def compileRateLimited(spark: SparkSession, dir: String,
      ast: Ast, s: SingleStream, rate: Rate,
      env: Map[String, DataFrame]): DataFrame = {
    val base0 = loadTable(spark, dir, s.table, env)
    s.window match {
      case None =>
        val base = s.filter.fold(base0)(f => base0.where(expr(sqlOf(f))))
        rateSelect(streamRows(ast, base, s.table), itemsOf(ast).map(_._2),
          rate)
      case Some(w) =>
        val twNs = windowRateChecks(ast, w, base0, s.table)
        val base =
          s.filter.fold(base0)(f => applyFilter(spark, dir, base0, f, env))
        val items = itemsOf(ast)
        val aggCols = items.collect { case (it, a, true) =>
          expr(sqlOf(it.e)).as(a) }
        val flush = base
          .groupBy(expr(s"ts_ns div ${twNs}L").as("__wb"))
          .agg(aggCols.head, aggCols.tail: _*)
          .select(col("__wb") +:
            items.map { case (it, a, isAgg) =>
              (if (isAgg) col(a) else expr(sqlOf(it.e))).as(a) }: _*)
        rateOverFlushes(flush, items.map(_._2), twNs, rate)
    }
  }

  // ---------- live ----------

  /** A single stream's output rate LIVE over `base`, the stage's
    * filtered input. A rate over a timeBatch aggregation folds the
    * window's flush partials ([[flushPartialFold]]: a bucket straddling
    * triggers merges componentwise) and runs [[rateOverFlushes]] at
    * finish. A plain stream:
    *  - `first every T`: streaming dropDuplicates on the interval — the
    *    first event of each interval emits AS IT ARRIVES, and the
    *    watermark evicts interval state once the interval has passed
    *    (engine twin: Streaming.rateLimitFirst); `all` only batches
    *    EMISSION, never content — the pass-through it is;
    *  - `last every T`: an interval's last event is only known when it
    *    closes — an Append-mode time-window aggregation, max_by(row,
    *    (ts_ns, event_id)) per window(ts, T), which the watermark emits
    *    and EVICTS once passed (engine twin: Ops.rateLimit's last_id);
    *  - `snapshot every T`: [[intervalFold]];
    *  - count `first|last`: [[countRateFold]].
    * Other windows are refused by name. `wmNs` is the deployment's
    * watermark bound. */
  private[api] def liveStreamRate(ast: Ast, s: SingleStream,
      base: DataFrame, wmNs: Long): LiveStage = {
    val rate = ast.rate.get
    s.window match {
      case Some(w: TimeBatch) =>
        val twNs = windowRateChecks(ast, w, base, s.table)
        val items = itemsOf(ast)
        val (lf, proto) = flushPartialFold(base, None, Nil, items, twNs,
          (_, flush) => rateOverFlushes(flush, items.map(_._2), twNs, rate))
        Folded(proto.schema, () => lf)
      case Some(w) =>
        fail("live rate limiting applies to stateless stages (v1) — " +
          s"not above a ${w.name} window")
      case None =>
        plainRateChecks(ast)
        (rate.mode, rate.timeNs, rate.count) match {
          case ("last", Some(tNs), None) =>
            Seq("ts", "ts_ns", "event_id").foreach(c =>
              if (!base.columns.contains(c))
                fail(s"live rate limiting needs column '$c'"))
            val rowC = struct(itemsOf(ast).map { case (it, a, _) =>
              expr(sqlOf(it.e)).as(a) }: _*)
            Streamed(base
              .filter(col("ts") < Streaming.flushCutoff)
              .groupBy(window(col("ts"), s"${tNs / 1000} microseconds"))
              .agg(max_by(rowC,
                struct(col("ts_ns"), col("event_id"))).as("__row"))
              .select(col("__row.*")), LiveMode.AppendFlushed)
          case ("snapshot", _, _) =>
            intervalFold(streamRows(ast, base, s.table),
              itemsOf(ast).map(_._2), rate, needsFlush = false)
          case (m @ ("first" | "last"), None, Some(n)) =>
            countRateFold(streamRows(ast, base, s.table).drop("__emit_ts"),
              m, n)
          case ("all", _, _) => plainStage(ast, base)
          case (_, tNs, _) =>
            if (!base.columns.contains("ts"))
              fail("live rate limiting needs the event-time column 'ts'")
            // the interval id is a TIMESTAMP event-time column carrying
            // the watermark tag AND serving as the dedup key: Spark only
            // evicts streaming-dedup state when a watermarked column is
            // among the keys, so a derived LONG id would accumulate
            // state forever. The tag is attached as metadata — a second
            // withWatermark NODE below the source one would be a
            // disallowed redefinition; the watermark VALUE still comes
            // from the source node, and __w <= ts so eviction is sound
            // (an interval's state drops once the watermark passes its
            // start).
            val mdw = new MetadataBuilder()
              .putLong("spark.watermarkDelayMs", wmNs / 1000000L)
              .build()
            plainStage(ast, base.select(col("*"),
                timestamp_millis(expr(s"(ts_ns div ${tNs.get}L) * " +
                  s"${tNs.get / 1000000}L")).as("__w", mdw))
              .dropDuplicates("__w")
              .drop("__w"))
        }
    }
  }

  /** Output rate limiting over a live windowed JOIN (`joined`, side
    * columns renamed `<alias>_<column>`, `render` rendering a select
    * item against them): the pair emissions of [[joinRows]]. `all`
    * streams them; time modes fold per-interval picks
    * ([[intervalFold]]: chunking-invariant whichever trigger
    * materializes a row, so outer null-pads emitted at watermark expiry
    * are safe); count modes over an INNER join ride the running counter
    * of [[countRateFold]] (pair emission is trigger-monotone under the
    * in-order replay), over an OUTER join the accumulate-then-select
    * [[rateLogFold]] — a null-pad materializes at watermark expiry,
    * AFTER later-emission pairs were counted. Outer joins need the
    * flush-sentinel batches for their tail null-pads. */
  private[api] def liveJoinRate(ast: Ast, joined: DataFrame, la: String,
      ra: String, render: Expr => String, inner: Boolean): LiveStage = {
    val rate = ast.rate.get
    val rows = joinRows(ast, joined, la, ra, (a, c) => s"${a}_$c", render)
    val outCols = itemsOf(ast).map(_._2)
    (rate.mode, rate.timeNs, rate.count) match {
      case ("all", _, _) => Streamed(rows.drop("__emit_ts", "__emit_ord"),
        if (inner) LiveMode.Append else LiveMode.AppendFlushed)
      case (_, Some(_), None) =>
        intervalFold(rows, outCols, rate, needsFlush = !inner)
      case (m, None, Some(n)) if inner =>
        countRateFold(rows.drop("__emit_ts"), m, n)
      case _ => rateLogFold(rows, outCols, rate, needsFlush = true)
    }
  }

  /** Time `first|last|snapshot` LIVE: one keyed fold on the emission
    * interval `__iv`. Each trigger re-picks the intervals its batch
    * touches over (state ∪ batch) with [[intervalPick]] — a row's
    * interval is a function of its own emission instant, so merges
    * commute whichever trigger materializes the row — and finish runs
    * [[intervalTail]] over the picked rows. */
  private[api] def intervalFold(rows: DataFrame, outCols: Seq[String],
      rate: Rate, needsFlush: Boolean): LiveStage = {
    val tNs = rate.timeNs.get
    val last = rate.mode != "first"
    val schema = intervalPick(rows, tNs, last).schema
    val proto =
      intervalTail(emptyOf(rows.sparkSession, schema), outCols, rate)
    Folded(proto.schema, () => singleFold(rows, schema,
      (_, _, acc, batch) =>
        intervalPick(acc.drop("__iv").unionByName(batch), tNs, last),
      (_, acc) => intervalTail(acc, outCols, rate),
      KeyedState(Seq("__iv"), (_, _, batch) =>
        batch.select(expr(s"__emit_ts div ${tNs}L").as("__iv"))))
      .copy(needsFlush = needsFlush))
  }

  /** Rates whose emission order a running counter cannot follow LIVE —
    * pattern matches, count modes over an outer join: the rows
    * accumulate with their emission order (AppendState, executor-held
    * generations, never driver-resident) and finish runs
    * [[rateSelect]], the batch selection itself, so live ≡ batch under
    * any chunking. */
  private[api] def rateLogFold(rows: DataFrame, outCols: Seq[String],
      rate: Rate, needsFlush: Boolean): LiveStage =
    Folded(rows.select(outCols.map(col): _*).schema, () => LiveFold(rows,
      Seq(("m", rows.schema, AppendState)),
      (_, _, _, batch) => Map("m" -> batch),
      (_, st) => rateSelect(st("m"), outCols, rate),
      needsFlush = needsFlush))

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
}
