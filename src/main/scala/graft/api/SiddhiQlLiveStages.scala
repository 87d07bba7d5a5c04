package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.engine.Cep
import graft.engine.Streaming.flushCutoff

/** [[SiddhiQL]]'s live lowering: [[deployStages]] folds an app's
  * statements into one immutable [[LiveCtx]], and [[runStage]] sends
  * each `from ...` stage to one named lowering per input shape — table
  * DML, the trigger, aggregation and table reads, the single-stream
  * window dispatch, the pattern, the windowed stream-stream join and
  * the enrichment join ([[SiddhiQlLiveEnrich]]) — then registers it
  * with [[LiveCtx.register]]. Mixed into `object SiddhiQL`. */
private[api] trait SiddhiQlLiveStages extends Serializable {
  self: SiddhiQlFrontend with SiddhiQlCompiler with SiddhiQlLive
    with SiddhiQlLiveEnrich with SiddhiQlRate =>

  /** What the live statement loop has deployed so far. `srcTs` is the
    * source with its event-time column and `wmNs` the deployment's
    * watermark bound. `env` is the read environment: a partition
    * block's lowering sees its keyed view there, with `partKey` set.
    * `dmlInfos` holds each table's DML writers, `statelessAsts` the
    * stateless insert-into stages in textual order (the fold feeds
    * re-derive through them per batch), `statefulStreams` the stages
    * that cannot feed another, and `out` the `outName` stage once
    * seen. A lowering's fold captures the ctx it lowered against. */
  private[api] final case class LiveCtx(srcTs: DataFrame, wmNs: Long,
      outName: String, env: Map[String, DataFrame],
      partKey: Option[String], statefulStreams: Set[String],
      tableDefs: Map[String, StructType],
      windowDefs: Map[String, WindowSpec], aggDefs: Map[String, AggDef],
      triggerDefs: Map[String, Long],
      dmlInfos: Map[String, List[DmlWriter]],
      statelessAsts: List[(String, Ast)],
      out: Option[(Ast, LiveStage)]) {

    /** The stream `name` as `use` reads it: refused when it is an
      * aggregation output or undeclared. */
    def feed(name: String, use: String): DataFrame = {
      if (statefulStreams.contains(name))
        fail(s"live deployment (v1): '$name' is an aggregation output " +
          s"— it must be the app's final sink, not a feed for $use")
      envLookup(env, name).getOrElse(fail("live deployment reads " +
        s"declared streams; '$name', read by $use, is " +
        "neither the source nor an earlier insert-into target"))
    }

    /** The streams a fold feed can re-derive per batch from the raw
      * source: the source and the stateless insert-into targets. */
    def derivable: Set[String] =
      Set("events") ++ statelessAsts.map(_._1)

    /** A DML stage's writer entry, its table defined and its source a
      * single stream. */
    def writerOf(ast: Ast, act: Action): DmlWriter = (ast, act,
      tableDefs.getOrElse(act.target, fail(s"'${act.target}' is not a " +
        s"defined table — add `define table ${act.target}(...)` before " +
        "the DML query")),
      ast.stream match {
        case ss: SingleStream => ss.table
        case _ => fail("table DML (v1) requires a single un-joined " +
          "source stream")
      })

    def withWriter(w: DmlWriter): LiveCtx = {
      val t = w._2.target
      copy(statefulStreams = statefulStreams + t,
        dmlInfos = dmlInfos + (t -> (dmlInfos.getOrElse(t, Nil) :+ w)))
    }

    /** The one exit of a stage. A DML stage adds its writer. A stage
      * inserting into a stream registers it — a folded stage as an
      * empty frame of its output schema, which later stages refuse to
      * read as an aggregation output; only a plain filter/projection
      * outside a partition block is batch-re-derivable (windowed,
      * rate-limited, joined and fMGWS stages carry state across
      * triggers). Several writers of one stream union, as in
      * compileApp, unless one aggregates. The out stage is built here,
      * against this ctx's writers and stateless stages, with the
      * script functions defined so far. */
    def register(name: Option[String], ast: Ast, dmlAct: Option[Action],
        stage: LiveStage, partitioned: Boolean): LiveCtx = {
      val next = dmlAct match {
        case Some(act) => withWriter(writerOf(ast, act))
        case None => ast.action.collect { case InsertInto(t) => t }
          .fold(this) { t =>
            val (df, stateless) = stage match {
              case Streamed(d, m, _) => (d, m == LiveMode.Append)
              case Folded(sch, _) =>
                (emptyOf(srcTs.sparkSession, sch), false)
            }
            val stateful =
              if (stateless) statefulStreams else statefulStreams + t
            val rederivable = stateless && !partitioned &&
              ast.rate.isEmpty && (ast.stream match {
                case ss: SingleStream => ss.window.isEmpty
                case _ => false
              })
            copy(statefulStreams = stateful,
              statelessAsts =
                if (rederivable) statelessAsts :+ (t -> ast)
                else statelessAsts,
              env = env + (t -> (env.get(t) match {
                case Some(prev) =>
                  if (!stateless || stateful.contains(t))
                    fail(s"live deployment (v1): multi-writer stream " +
                      s"'$t' cannot take an aggregated writer")
                  if (prev.columns.toSet != df.columns.toSet)
                    fail(s"queries inserting into '$t' disagree on its " +
                      s"schema: [${prev.columns.mkString(", ")}] vs " +
                      s"[${df.columns.mkString(", ")}]")
                  prev.unionByName(df)
                case None => df
              })))
          }
      }
      val stageName = name.orElse(ast.action.map(_.target))
      val isOut =
        stageName.contains(outName) || dmlAct.exists(_.target == outName)
      // deployApp composes the OUT query's order by, offset and limit
      // once over the finished result; a mid-topology cut would run
      // per trigger (or not at all) — never the batch replay's cut
      if (!isOut && (ast.limit.nonEmpty || ast.offset.nonEmpty))
        fail("live deployment (v1) applies `limit`/`offset` to the " +
          s"out query '$outName' only; stage " +
          s"'${stageName.getOrElse("?")}' cuts mid-topology — move the " +
          "cut to the out query, or use the batch replay (compileApp)")
      if (!isOut) next
      else next.copy(out = Some(ast -> (stage match {
        case Folded(sch, build) =>
          val lf = build().copy(fns = scriptFns)
          Folded(sch, () => lf)
        // the sink never shows the carried event-time helper columns
        case Streamed(df, mode, carried) if carried.nonEmpty =>
          Streamed(df.drop(carried: _*), mode)
        case streamed => streamed
      })))
    }
  }

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
    * [[parsePartition]], [[readNamedWindows]], [[enrichmentSides]]).
    *
    * The statement loop folds one immutable [[LiveCtx]]: a `define`
    * adds its definition, and a `from ...` stage (top level or inside
    * a partition block) goes through [[runStage]], which returns the
    * next ctx. */
  private[api] def deployStages(src: DataFrame, app: String, out: String)
      : (Ast, LiveStage) = {
    val need = Seq("event_id", "ts_ns", "user_id", "event_type", "value")
    need.foreach { c =>
      if (!src.columns.contains(c))
        fail(s"deployAppOn source lacks required column '$c'")
    }
    val srcTs =
      if (src.columns.contains("ts")) src
      else src.withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    // captured ONCE per deployment: the same value becomes the source
    // watermark delay AND the compaction freeze bound (see scaladoc
    // at DefaultWatermarkNs) — they move in lockstep by construction
    val wmNs = watermarkNs(src.sparkSession)
    scriptFns = Map.empty // live apps carry their own defines
    val liveStmts = splitStatements(app)
    // @OnError(action='STREAM') deploys LIVE too: the fault/clean
    // split is a stateless pair of filters over the watermarked
    // source, so it composes onto the incremental plan exactly as it
    // does onto the batch replay (onErrorSplit) — `!S` and S's clean
    // view go into the read environment before any stage compiles
    val env0 = onErrorStreams(liveStmts).foldLeft(Map[String, DataFrame](
        "events" -> srcTs.withWatermark("ts",
          s"${wmNs / 1000000000L} seconds"))) { (env, sN) =>
      val baseDf = envLookup(env, sN).getOrElse(fail("@OnError live " +
        s"deployment annotates the source stream; '$sN' is not declared"))
      val (fault, clean) = onErrorSplit(baseDf, liveStmts, sN)
      env + (("!" + sN) -> fault) + (sN -> clean)
    }
    val ctx0 = LiveCtx(srcTs, wmNs, out, env0, None, Set.empty, Map.empty,
      Map.empty, Map.empty, Map.empty, Map.empty, Nil, None)
    val done = liveStmts.foldLeft(ctx0) { case (ctx, (name, body, _)) =>
      val head = body.split("\\s+", 2).headOption.getOrElse("")
      if (head.equalsIgnoreCase("define"))
        parseDefine(body).foldLeft(ctx) {
          // stream schemas come from the source; functions inline into
          // the incremental plan like any expression
          case (c, DefStream(_)) => c
          case (c, DefFunction(b)) => registerScriptFn(b); c
          case (c, DefTable(t, sch)) =>
            c.copy(tableDefs = c.tableDefs + (t -> sch))
          case (c, DefWindow(w, spec)) =>
            c.copy(windowDefs = c.windowDefs + (w -> spec))
          // the grain cascade's finest-grain partial table becomes
          // keyed fold state (see [[aggRead]])
          case (c, DefAggregation(a, adef)) =>
            if (!adef.source.equalsIgnoreCase("events"))
              fail("a live `define aggregation` (v1) aggregates the " +
                s"source stream 'events'; got '${adef.source}'")
            c.copy(aggDefs = c.aggDefs + (a -> adef))
          // the replay twin of a rate source: tick generation is driven
          // by the STREAM'S event-time span, tracked incrementally in
          // fold state (see [[triggerRead]]); a real deployment points
          // the same read at a wall-clock rate source (engine twin:
          // Ops.triggerGapfill)
          case (c, DefTrigger(t, ivNs)) =>
            c.copy(triggerDefs = c.triggerDefs + (t -> ivNs))
        }
      else if (head.equalsIgnoreCase("partition")) {
        // deployed LIVE with the batch compile's rewrite: the key
        // prepends to every inner grouping on the incremental plan;
        // hoisted DML writers re-enter runStage unpartitioned over the
        // GLOBAL env (the rewritten AST carries the partition's whole
        // semantics, so enrichment reads and live folds recompile it)
        val pb = parsePartition(body)
        // the sentinel OR keeps the label filter above the source
        // watermark node, so flush sentinels (which may match no range)
        // still advance the watermark
        val view = pb.view(ctx.feed(pb.src, "a partition block"),
          _ || col("ts") >= flushCutoff)
        pb.queries(ctx.tableDefs.contains).foldLeft(ctx) {
          case (c, PartQuery(qName, ast, Some(_))) =>
            runStage(c, qName, ast, None)
          case (c, PartQuery(qName, ast, None)) =>
            runStage(c, qName, ast, Some((pb.key, pb.src, view)))
        }
      }
      else if (head.equalsIgnoreCase("from"))
        runStage(ctx, name, new P(lex(body)).query(), None)
      else if (head.equalsIgnoreCase("update") ||
               head.equalsIgnoreCase("delete"))
        // the on-demand store mutations (batch surface, r16)
        fail("on-demand DML is point-in-time by definition — it has " +
          "no stream to trigger it live; run it on the batch surface " +
          "(compileApp) against the replayed state")
      else fail(s"live deployment cannot run: '${body.take(40)}...'")
    }
    done.out.getOrElse(
      fail(s"app has no query named or inserting into '$out'"))
  }

  /** One `from ...` stage: picks its lowering and returns the ctx its
    * [[LiveCtx.register]] exit yields. `part` is a partition block's
    * (key, source, keyed view): the lowering reads the view in place
    * of the source, and the stored reads it cannot key are refused. */
  private[api] def runStage(ctx: LiveCtx, name: Option[String],
      ast0: Ast, part: Option[(String, String, DataFrame)]): LiveCtx = {
    // a defined window reads as fed-stream#spec, exactly like the
    // batch replay — reading W as a plain stream would miscompile
    val ast = readNamedWindows(ast0, ctx.windowDefs, ctx.env.contains)
    val lctx = part.fold(ctx) { case (key, src, view) =>
      ctx.copy(env = ctx.env + (src -> view), partKey = Some(key)) }
    requireUnpartitionedRate(ast, lctx.partKey)
    val dmlAct = ast.dml(ctx.tableDefs.contains)
    // a block's queries read its source, which passed `feed`: only a
    // stored name that shadows a stream gets here
    def stored(use: String, t: String)(lower: => LiveStage): LiveStage = {
      if (lctx.partKey.nonEmpty)
        fail(s"$use of '$t' inside a partition block " +
          "is not deployed (v1)")
      lower
    }
    val stage = dmlAct match {
      // table DML from a partition block never reaches here
      // partitioned: [[Partition.queries]] HOISTS it to top-level
      // writer AST(s) first
      case Some(act) => dmlStage(lctx, ast, act)
      case None => ast.stream match {
        case s: SingleStream if ctx.triggerDefs.contains(s.table) =>
          stored("a trigger read", s.table)(triggerRead(lctx, ast, s))
        case s: SingleStream if ctx.aggDefs.contains(s.table) =>
          stored("an aggregation read", s.table)(aggRead(lctx, ast, s))
        case s: SingleStream if ctx.dmlInfos.contains(s.table) =>
          stored("a table read", s.table)(tableRead(lctx, ast, s))
        case s: SingleStream => singleStage(lctx, ast, s)
        case pt: PatternStream => patternStage(lctx, ast, pt)
        // a partition block holds no join ([[Partition.queries]])
        case jx: JoinStream if ctx.dmlInfos.contains(jx.left.table) ||
            ctx.dmlInfos.contains(jx.right.table) =>
          enrichStage(lctx, ast, jx)
        case j: JoinStream if ctx.aggDefs.contains(j.left.table) ||
            ctx.aggDefs.contains(j.right.table) =>
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
        case j: JoinStream => joinStage(lctx, ast, j)
      }
    }
    ctx.register(name, ast, dmlAct, stage, part.nonEmpty)
  }

  // ---------- table DML and the stored reads ----------

  /** Table DML deployed LIVE: the stage registers its writer (see
    * [[LiveCtx.register]]) and deployApp runs the table's fold
    * ([[tableFoldFor]]) as a per-micro-batch keyed MERGE over the
    * accumulated table (engine twin: Streaming.tableUpsert).
    * Statement-at-once batch semantics survive the micro-batch split
    * because applyDml's merge is a per-key fold: set RHS may reference
    * the triggering event only (enforced there), so last-update-wins
    * composes across batches. */
  private[api] def dmlStage(ctx: LiveCtx, ast: Ast, act: Action)
      : LiveStage = {
    val w @ (_, _, schema, srcName) = ctx.writerOf(ast, act)
    val feed = ctx.feed(srcName, "table DML")
    // build the merge plan NOW over empty frames so a bad app fails at
    // deploy time, not at the first trigger
    applyDml(feed.sparkSession, "", ast, act, schema,
      emptyOf(feed.sparkSession, schema),
      Map(srcName -> emptyOf(feed.sparkSession, feed.schema)))
    // reads of a DML-maintained table deploy through the table-read
    // or the enrichment-join fold; the fold sees this writer
    val withW = ctx.withWriter(w)
    Folded(schema, () => tableFoldFor(withW, act.target))
  }

  /** A DML-maintained table's fold, as the ctx's writers build it —
    * for the writer stage itself and for a `from T select ...` read:
    * the multi-writer interleave, the windowed flush partials, or the
    * plain keyed merge. */
  private[api] def tableFoldFor(ctx: LiveCtx, tName: String): LiveFold = {
    val allWriters = ctx.dmlInfos(tName)
    val schema = ctx.tableDefs(tName)
    val statelessSnap = ctx.statelessAsts
    val srcTs = ctx.srcTs
    def envOf(sp: SparkSession, d2: String, batch: DataFrame)
        : Map[String, DataFrame] =
      batchEnv(sp, d2, batch, statelessSnap)
    if (allWriters.length > 1) {
      // MULTI-WRITER table deployed LIVE: the fold applies every
      // registered writer's emissions per trigger in per-event
      // interleaved order (applyDmlMulti — the same merged algebra as
      // the batch compile, which is why the batch replay is the
      // oracle). Each writer's feed re-derives from the source batch,
      // so every writer must read the source (or a stateless derived
      // stream). Groups with ANY windowed writer — all-windowed or
      // MIXED with per-event writers/sweepers — deploy via per-writer
      // states + the batch merge tail (r14, multiWindowedDmlFold);
      // all-per-event groups keep the per-trigger incremental merge
      // (O(table keys) state).
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
        if (!ctx.derivable.contains(wSrc))
          fail(s"multi-writer table '$tName' (v1): writer " +
            s"source '$wSrc' must be the source stream or a " +
            "stateless derived stream")
      }
      // deploy-time probe: shape checks fail NOW, not at the first
      // trigger
      val sp00 = srcTs.sparkSession
      applyDmlMulti(sp00, "", allWriters, schema, emptyOf(sp00, schema),
        envOf(sp00, "", emptyOf(sp00, srcTs.schema)))
      if (winN > 0) multiWindowedDmlFold(srcTs, allWriters, schema, envOf)
      else singleFold(srcTs, schema,
        (sp, d2, acc, batch) => applyDmlMulti(sp, d2, allWriters,
          schema, acc, envOf(sp, d2, batch)),
        (_, acc) => acc,
        dmlStateModeMulti(allWriters, tName, schema, envOf))
    } else {
      val (wAst, wAct, _, wSrc) = allWriters.head
      val feed = ctx.feed(wSrc, "table DML")
      wAst.stream match {
        case SingleStream(_, _, Some(wtb @ TimeBatch(tNs, _)), _, _) =>
          // windowed-aggregate DML (the Siddhi store pattern) LIVE: a
          // per-batch applyDml would double-apply a window bucket that
          // spans two triggers, so the fold keeps per-(bucket ∪ group
          // keys) algebraic PARTIALS instead and runs the emission
          // merge once, at finish
          requireEpochTb(wtb, "live windowed table DML")
          windowedDmlFold(feed, wAst, wAct, schema, tNs)
        case _ =>
          singleFold(feed, schema,
            (sp, d2, acc, batch) => applyDml(sp, d2, wAst, wAct,
              schema, acc, Map(wSrc -> batch)),
            (_, acc) => acc,
            // insert-only DML appends generation deltas; keyed DML
            // bucket-merges — per-trigger write cost O(batch), not
            // O(accumulated table)
            dmlStateMode(wAst, wAct, schema, wSrc,
              (_, _, batch) => Map(wSrc -> batch)))
      }
    }
  }

  /** `from T ...` reading a LIVE `define trigger`: tick generation is
    * event-time-span driven in the replay (the batch compile's exact
    * rule — aligned interval starts over [min, max] of the stream's
    * ts_ns), tracked incrementally: fold state is ONE (lo, hi) row of
    * aligned bucket bounds, merged per trigger; finish explodes the
    * tick sequence (O(span/iv) rows) and runs the read query's batch
    * compile over it — filters/projections/joins against ticks all
    * compose. A wall-clock deployment swaps the span state for a rate
    * source; everything above the tick relation is unchanged. */
  private[api] def triggerRead(ctx: LiveCtx, ast: Ast, s: SingleStream)
      : LiveStage = {
    val ivNs = ctx.triggerDefs(s.table)
    val ivMs = ivNs / 1000000L
    val tname = s.table
    val sp0 = ctx.srcTs.sparkSession
    val spanSchema = StructType(Seq(
      StructField("lo", LongType), StructField("hi", LongType)))
    def ticksOf(acc: DataFrame): DataFrame =
      acc.select(explode(sequence(col("lo"), col("hi"),
        lit(ivMs))).as("tick_ms"))
    // deploy-time validation over an empty tick relation (also rejects
    // reads of anything besides the trigger — the finish recompile
    // carries no table directory)
    val protoT = compileAst(sp0, "", ast,
      Map(tname -> ticksOf(emptyOf(sp0, spanSchema))))
    // finish leaves order/offset/limit to the runner
    val astT = ast.copy(orderBy = Nil, limit = None, offset = None)
    Folded(protoT.schema, () => singleFold(ctx.srcTs, spanSchema,
      (_, _, acc, batch) => {
        val b2 = batch.agg(
          expr(s"min((ts_ns div ${ivNs}L) * ${ivMs}L)").as("lo"),
          expr(s"max((ts_ns div ${ivNs}L) * ${ivMs}L)").as("hi"))
        acc.unionByName(b2)
          .agg(min("lo").as("lo"), max("hi").as("hi"))
          .where(col("lo").isNotNull)
      },
      (sp, acc) => compileAst(sp, "", astT, Map(tname -> ticksOf(acc)))))
  }

  /** `from AggName within ... per '...'` reading a LIVE `define
    * aggregation`: the grain cascade compiles onto the keyed
    * bucket-merge fold channel. State is the FINEST-grain partial
    * table keyed by (bucket, group keys) — each trigger computes the
    * batch's partials and merges only the batch-touched buckets
    * (per-trigger write cost O(batch-touched buckets), not O(state));
    * the read's roll-up / within bound / finalize runs at finish
    * exactly as the batch path's aggRollUp, which is why the batch
    * incremental-aggregation oracle is the live gate's truth. */
  private[api] def aggRead(ctx: LiveCtx, ast: Ast, s: SingleStream)
      : LiveStage = {
    val adef = ctx.aggDefs(s.table)
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
    val finestMs = grainMsOf(adef.grains.head)
    val stateKeys = "__gb" +: adef.groupBy
    // prototype over an empty frame: deploy-time validation (schema,
    // filter, read projection) + the state schema
    val proto = aggGrainPartial(
      emptyOf(ctx.srcTs.sparkSession, ctx.srcTs.schema), adef, pCols)
    readProj(aggRollUp(proto, adef, perMs, lo, hi, cCols, fMap))
    Folded(proto.schema, () => singleFold(ctx.srcTs, proto.schema,
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
  }

  /** `from T select ...` over a DML-maintained table (r14): an
    * END-OF-REPLAY snapshot read — the table fold runs as usual and
    * the read query's filter/projection/order apply at finish (the
    * batch 'read' stage's semantics; a table is not a stream,
    * per-event reads are the enrichment join). v1: stateless
    * projection only. */
  private[api] def tableRead(ctx: LiveCtx, ast: Ast, s: SingleStream)
      : LiveStage = {
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
    val itemsR = itemsOf(expandStar(ast, ctx.tableDefs(s.table).fieldNames))
    def projectT(t: DataFrame): DataFrame = {
      val f = s.filter.fold(t)(ff => t.where(expr(sqlOf(ff))))
      f.select(itemsR.map { case (it, a2, _) =>
        expr(sqlOf(it.e)).as(a2) }: _*)
    }
    // deploy-time fail-fast + output schema
    val protoT = projectT(
      emptyOf(ctx.srcTs.sparkSession, ctx.tableDefs(s.table)))
    Folded(protoT.schema, () => {
      val baseLf = tableFoldFor(ctx, s.table)
      baseLf.copy(finish = (sp, st) => projectT(baseLf.finish(sp, st)))
    })
  }

  // ---------- single stream ----------

  /** An unwindowed live stage over `df` (the stage's filtered input, or
    * the rate-limited stream of [[liveStreamRate]]): a projection, or a
    * global aggregation. */
  private[api] def plainStage(ast: Ast, df: DataFrame): LiveStage = {
    val carryCols = carriedTs(ast, df.columns.contains)
    val outDf = selectOrAggregate(ast, df, Nil, windowed = false,
      carry = carryCols.map(col))
    if (!ast.select.exists(it => containsAgg(it.e)))
      Streamed(outDf, LiveMode.Append, carryCols)
    // live global (unwindowed) aggregation runs UPDATE mode: each
    // trigger emits only the groups the batch changed — sink volume
    // O(batch keys) per trigger, not O(all groups) as Complete-mode
    // re-emission would be. The runner collapses the emissions into a
    // keyed upsert (last write per group wins), the scale-safe shape of
    // the reference's ever-updating aggregate. `__ukey` carries the
    // group identity to the collapse and is dropped at the sink; when
    // the group key is not projected there is no upsert identity, so
    // the stage keeps bounded-state Complete re-emission.
    else if (ast.groupBy.isEmpty)
      Streamed(outDf.withColumn("__ukey", lit(0L)), LiveMode.Update)
    else if (ast.groupBy.forall(outDf.columns.contains))
      Streamed(outDf.withColumn("__ukey",
        struct(ast.groupBy.map(col): _*)), LiveMode.Update)
    else Streamed(outDf, LiveMode.Complete)
  }

  /** A single-stream stage: its filtered feed, then its output rate
    * ([[liveStreamRate]]) or its window. */
  private[api] def singleStage(ctx: LiveCtx, ast: Ast, s: SingleStream)
      : LiveStage = {
    val base0 = ctx.feed(s.table, "a further stage")
    val base = s.filter.fold(base0)(f => liveWhere(base0, f))
    if (ast.rate.nonEmpty) liveStreamRate(ast, s, base, ctx.wmNs)
    else s.window match {
      case None => plainStage(ast, base)
      case Some(w) => windowStage(ctx, ast, s.table, base, w)
    }
  }

  /** The single-stream window dispatch over `base`, the filtered feed
    * of stream `table`: one lowering per deployable window type —
    * timeBatch, cron and session as Append-mode windowed aggregations,
    * unique:first as a streaming dedup, delay as a stateless shift,
    * expression, timeLength and length as per-key [[bufferFold]]s,
    * unique:last/ever, sort and frequent as folds. `time`,
    * `lengthBatch`, `externalTime` and `externalTimeBatch` are refused
    * by name. */
  private[api] def windowStage(ctx: LiveCtx, ast: Ast, table: String,
      base: DataFrame, w: WindowSpec): LiveStage = {
    if (w.isInstanceOf[Unique] &&
        (ast.select.exists(it => containsAgg(it.e)) || ast.groupBy.nonEmpty))
      fail(s"live ${w.name} projects columns (v1)")
    w match {
      case TimeBatch(t, off) => Streamed(tumblingAgg(ast, base, "w_start_ms",
        t, off), LiveMode.AppendFlushed)
      case u @ Unique("first", keys) =>
        // live unique:first = streaming dropDuplicates on the key
        // (engine twin: Streaming.dedupKeys) — the first event per
        // distinct key emits as it arrives; later duplicates are
        // suppressed by keyed state
        windowKeys(u, keys, base.columns)
        // keyed dedup state is held forever BY CONTRACT — unique:first
        // must remember every key it has seen, so state is bounded by
        // the key domain, not the watermark
        Streamed(selectOrAggregate(ast,
          base.dropDuplicates(keys.head, keys.tail: _*),
          Nil, windowed = false), LiveMode.Append)
      case Expression(ret) =>
        // live retain-while window: the batch fold's [[retainWhile]]
        // step inside flatMapGroupsWithState; buffer size is bounded by
        // the predicate itself
        bufferFold(ast, base, table, w.name, retainWhile(ret))
      case Cron(_, iv) =>
        // cron live: the epoch-aligned fixed-interval Quartz forms ARE
        // a cron-aligned timeBatch — same Append-mode watermark-evicted
        // buckets, keyed cron_tick_ms
        Streamed(tumblingAgg(ast, base, "cron_tick_ms", iv, 0L),
          LiveMode.AppendFlushed)
      case Delay(tNs2) =>
        // delay(T) live: the same stateless re-timestamp the batch
        // compile uses — downstream stages (incl. further live windows)
        // bucket by the delayed time. The shifted `ts` is a NEW
        // attribute, so the source watermark tag would be lost:
        // re-attach the delay metadata explicitly so a downstream
        // Append aggregation still sees a watermarked event-time column
        // (the watermark VALUE keeps coming from the source node —
        // shifted windows simply close `T` later, which is the point of
        // a delay).
        val md = new MetadataBuilder()
          .putLong("spark.watermarkDelayMs", ctx.wmNs / 1000000L).build()
        val others = base.columns
          .filterNot(c => c == "ts" || c == "ts_ns").map(col)
        val shifted = base.select(others ++ Seq(
          (col("ts_ns") + lit(tNs2)).as("ts_ns"),
          expr(s"timestampadd(MICROSECOND, ${tNs2 / 1000}L, ts)")
            .as("ts", md)): _*)
        val carry2 = carriedTs(ast, shifted.columns.contains)
        Streamed(selectOrAggregate(ast, shifted, Nil,
          windowed = false, carry = carry2.map(col)),
          if (ast.select.exists(it => containsAgg(it.e))) LiveMode.Complete
          else LiveMode.Append, carry2)
      case TimeLength(tNs2, n) =>
        // live timeLength(T, N): per-key ring of the last N events;
        // select items evaluate over the subset still within T of the
        // current event (same inclusive bound as the batch compile) —
        // state is ≤ N events per key
        val nCap = n.toInt
        bufferFold(ast, base, table, w.name, { (ring0, e) =>
          val ring = (ring0 :+ e).takeRight(nCap)
          (ring, ring.filter(_.tsNs >= e.tsNs - tNs2))
        })
      case u @ Unique(_, keys) =>
        // live unique:last: keep-LAST per key — the emitted-row
        // retraction (Update-mode semantics) Spark sinks can't express
        // becomes a per-micro-batch keyed fold: each batch's rows merge
        // into one state row per distinct key (the unique-window
        // contract bounds state by the key domain, exactly like
        // unique:first's dedup state). unique:ever retains the latest
        // row per key forever — the identical fold. Composite keys
        // (r17) fold on the attribute struct.
        windowKeys(u, keys ++ Seq("ts_ns", "event_id"), base.columns)
        val items = itemsOf(ast)
        def selLast(df: DataFrame): DataFrame =
          df.select(items.map { case (it, a, _) =>
            expr(sqlOf(it.e)).as(a) } ++ Seq(
            struct(keys.map(col): _*).as("__ukey"),
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
          // keep-last is a per-__ukey merge: only buckets the batch's
          // keys hash into are read and rewritten
          KeyedState(Seq("__ukey"), (_, _, batch) =>
            batch.select(struct(keys.map(col): _*)
              .cast(schemaU("__ukey").dataType).as("__ukey")))))
      case srt: Sort =>
        // live sort(N, attr, dir): running top-N retention — per
        // micro-batch the kept set folds as topN(kept ∪ batch); N full
        // rows of state, composable across any batch split because
        // top-N is associative. Select items (usually aggregates)
        // evaluate over the FINAL kept set, the batch compile's
        // semantics; the batch compile's [[sortOrder]], so live ≡ batch
        val ordS = sortOrder(srt, base.columns)
        val nKeep = srt.n.toInt
        Folded(base.schema, () => singleFold(base, base.schema,
          (_, _, acc, batch) =>
            acc.unionByName(batch.select(acc.columns.map(col): _*))
              .orderBy(ordS: _*).limit(nKeep),
          (_, acc) => selectOrAggregate(ast, acc, Nil, windowed = false)))
      case Frequent(n, attr) =>
        // live frequent(N, attr): the select items fold as FoldAlg
        // components keyed on the attribute (state = one component row
        // per distinct key), with the top-N-by-frequency retention
        // applied at read time — the batch compile's exact-count
        // truth, incrementally
        if (ast.having.nonEmpty)
          fail("live frequent window (v1) has no having clause")
        val nKeep = n.toInt
        if (ast.groupBy != List(attr))
          fail("live frequent window (v1) groups by its attribute " +
            s"('group by $attr')")
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
          // component rows merge per attr value: only the batch's attr
          // buckets are read and rewritten
          KeyedState(Seq(attr), (_, _, batch) =>
            batch.select(col(attr)
              .cast(schemaF(attr).dataType).as(attr)))))
      case Length(n) =>
        // live per-key sliding length window: a flatMapGroupsWithState
        // ring of the last N events per key, select items re-evaluated
        // over the ring on every arrival ([[bufEval]] — the same
        // interpreter the batch expression window folds with; engine
        // twin: Streaming.lengthSliding). State is N events per key,
        // forever-bounded.
        val nRing = n.toInt
        bufferFold(ast, base, table, w.name, { (ring0, e) =>
          val ring = (ring0 :+ e).takeRight(nRing)
          (ring, ring)
        })
      case Session(gap) =>
        // live session aggregation: built-in session_window in APPEND
        // mode (engine twin: Streaming.session) — a session emits
        // (merged, final) once the watermark passes its close, then its
        // state is dropped; output columns mirror the batch compile's
        // [[sessionAgg]] exactly
        Streamed(sessionAgg(ast, flushGuarded(base), gap),
          LiveMode.AppendFlushed)
      case _: Time | _: LengthBatch | _: ExternalTime |
           _: ExternalTimeBatch =>
        fail("live deployment (v1) deploys the windows timeBatch, cron, " +
          "session, length, timeLength, expression, delay, sort, " +
          "frequent and unique:first/last/ever; " +
          s"'#window.${w.name}' is a batch-replay window (compile/" +
          "compileApp)")
    }
  }

  // ---------- pattern and windowed join ----------

  /** A pattern clause via the per-key NFA re-fold
    * ([[Patterns.PatternBuilder.selectStream]], append); a rated
    * pattern's matches carry their emission columns into
    * [[rateLogFold]]. */
  private[api] def patternStage(ctx: LiveCtx, ast: Ast, pt: PatternStream)
      : LiveStage = {
    val (b, sel, outSchema) = patternParts(ast, pt)
    val rated = ast.rate.nonEmpty
    val schema = StructType((outSchema ++
      (if (rated) patternEmitCols else Nil)).map { case (n, t) =>
        StructField(n, t) })
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    val proj = (bnd: Cep.Bindings) => Row.fromSeq(
      sel.map { case (_, _, _, extract) => extract(bnd) } ++
        (if (rated) patternEmit(bnd) else Nil))
    val (matches, mode) =
      if (b.steps.exists(_.isInstanceOf[Cep.Absent])) {
        // ABSENCE-bearing pattern (`not X for T`) deployed LIVE: the
        // timed re-fold — absence deadlines register event-time timers
        // against the source watermark, so a "nothing arrived" match
        // emits when the watermark passes its deadline, not at a next
        // event that may never come (engine twins: Streaming.cepAbsence
        // / cepAbsenceTws). Reads the WATERMARKED declared view (clean
        // under @OnError); flush sentinels drop here, above the source
        // watermark node, and AppendFlushed makes the finite-replay
        // harness feed them so the last deadlines resolve (a rate fold
        // needs them too).
        val evT = ctx.feed("events", "a live absence pattern")
          .filter(col("ts") < flushCutoff)
          .select(col("event_id").as("eventId"),
            col("ts_ns").as("tsNs"), col("user_id").as("userId"),
            col("event_type").as("eventType"), col("value"), col("ts"))
          .as[graft.engine.Streaming.EvT](
            Encoders.product[graft.engine.Streaming.EvT])
        (b.selectStreamTimed(evT)(proj).toDF(), LiveMode.AppendFlushed)
      } else {
        (b.selectStream(evsOf(ctx.srcTs, "events"))(proj).toDF(),
          LiveMode.Append)
      }
    ast.rate match {
      case None => Streamed(matches, mode)
      case Some(r) =>
        val outCols = outSchema.map(_._1)
        rateLogFold(patternRows(matches, outCols, r), outCols, r,
          needsFlush = mode == LiveMode.AppendFlushed)
    }
  }

  /** A windowed stream-stream join deployed LIVE over time or
    * timeBatch sides: Spark's watermarked interval join — the
    * [[timeHull]] band becomes the event-time range condition
    * Structured Streaming uses to size and EVICT both sides' join state
    * (the engine twin Streaming.streamStreamJoin's exact machinery),
    * and a timeBatch side adds [[joinBand]]'s per-direction residual,
    * the batch compile's rule over `alias_column` names. Its output is
    * a projection, a rate ([[liveJoinRate]]) or a one-stage
    * aggregation fold. */
  private[api] def joinStage(ctx: LiveCtx, ast: Ast, j: JoinStream)
      : LiveStage = {
    val (lw2, rw2) = (j.left.window, j.right.window) match {
      case (Some(l @ (_: Time | _: TimeBatch)),
            Some(r @ (_: Time | _: TimeBatch))) => (l, r)
      case _ => fail("live deployment joins need #window.time(T) " +
        "or #window.timeBatch(T) on both sides (the watermarked " +
        "stream-stream join); count-window join sides need the " +
        "global arrival rank and are batch-replay surfaces (v1)")
    }
    // timeBatch sides ride the SAME watermarked interval join: bucket
    // co-membership implies |Δts| < T, so the [-T, T] hull is the
    // eviction band Spark needs and [[joinBand]]'s bucket rule refines
    // it as a residual conjunct
    val (la, ra, directional) =
      joinBand(j, lw2, rw2, (s2, c) => s"${s2}_$c")
    // outer directions ride the SAME watermarked interval join: Spark
    // emits the null-padded side once the watermark passes the band
    // (state eviction doubles as the no-match proof), so outer needs
    // the flush-sentinel Append channel (AppendFlushed) where inner
    // emits matches as they arrive (Append)
    val jType = j.joinType match {
      case "inner" | "left_outer" | "right_outer" |
           "full_outer" => j.joinType
      case other => fail("live windowed joins are inner or " +
        s"left/right/full outer (v1), got '$other'")
    }
    val joinAgg = ast.select.exists(it => containsAgg(it.e)) ||
      ast.groupBy.nonEmpty
    def sideDf(ss: SingleStream, alias: String): DataFrame = {
      val b0 = ctx.feed(ss.table, "a join")
      val b1 = ss.filter.fold(b0)(f => liveWhere(b0, f))
      if (!b1.columns.contains("ts"))
        fail(s"join side '${ss.table}' lost its 'ts' column — " +
          "live windowed joins need the event-time column")
      // flush sentinels ride through every liveWhere filter
      // (OR-extended) to keep advancing the watermark; drop them HERE,
      // above the source watermark node, so they never enter the join
      // — an outer join would otherwise pair each sentinel with itself
      // across the two sides
      val b2 = b1.filter(col("ts") < flushCutoff)
      // the source watermark tag propagates through the rename
      // (`alias_ts` keeps the -T60000ms annotation), so re-declaring it
      // here would be a disallowed watermark redefinition — the
      // interval join's state eviction keys off the inherited tag
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
    // tl - tr ∈ [lo, hi]  ⇔  r_ts ∈ [l_ts - hi, l_ts - lo]
    val (lo, hi) = timeHull(j, lw2, rw2)
    def ivl(ns: Long): String =
      s"interval ${math.abs(ns / 1000000L)} milliseconds"
    val band =
      s"${ra}_ts >= ${la}_ts - ${ivl(hi)} and ${ra}_ts <= ${la}_ts " +
        s"${if (lo <= 0) "+" else "-"} ${ivl(lo)}"
    val aSide = sideDf(j.left.copy(window = None), la)
    val bSide = sideDf(j.right.copy(window = None), ra)
    // the per-direction retention residual when a side is a tumbling
    // chunk; arrival order is (ts_ns, event_id)
    val resid = directional.fold("") { d =>
      Seq((la, aSide), (ra, bSide)).foreach { case (al, df2) =>
        Seq("ts_ns", "event_id").foreach(c =>
          if (!df2.columns.contains(s"${al}_$c"))
            fail(s"timeBatch join sides need '$c' for " +
              s"arrival order; side '$al' lost it"))
      }
      s" and ($d)"
    }
    val joined = aSide
      .join(bSide, expr(s"($cond) and ($band)$resid"), jType)
    if (ast.rate.nonEmpty && !joinAgg)
      liveJoinRate(ast, joined, la, ra, sqlOfWith(_, qual),
        inner = jType == "inner")
    else if (joinAgg) {
      if (ast.rate.nonEmpty)
        fail("live rate limiting above a join aggregation is not " +
          "deployed (v1) — rate the join, aggregate in a downstream " +
          "stage")
      // ONE-STAGE windowed-join aggregation: `join … select agg(...)
      // group by …` compiles to the watermarked interval join feeding a
      // per-micro-batch ALGEBRAIC keyed fold (FoldAlg algebra partials
      // merged componentwise across triggers — state is one component
      // row per group, per-trigger write cost O(batch-touched
      // buckets)). The batch twin is the global aggregation over all
      // band pairs, so the fold equals batch replay under any chunking.
      // Spark itself cannot chain an unwindowed Update-mode aggregation
      // above a stream-stream join, which is exactly why this runs
      // through the fold channel; a time-windowed aggregation above a
      // join stays the chained stateful-operator form (insert into a
      // named stream, then #window.timeBatch it).
      // OUTER joins fold too (r11): the keyed algebraic merge is
      // arrival-agnostic, so a null-padded row materializing at
      // watermark expiry folds into its group whenever its trigger
      // carries it — the runner's flush-sentinel batches (needsFlush)
      // make the tail's pads materialize before finish, and null group
      // keys merge via FoldAlg's null-safe keyed merge. having applies
      // ONCE at finish over the finalized groups (alias refs, like the
      // batch compile); order, offset and limit follow in [[deployApp]]
      val items = itemsOf(ast)
      val keyItems = items.filter(!_._3)
      // the select item's scalar wrapper is re-evaluated at finish
      // over the merged components
      val fp = FoldAlg.plan(items,
        FoldAlg.groupKeys("live join aggregation", ast.groupBy, items),
        (_, a2) => Ref(List(a2)), ast.having)
      val feed = joined.select(
        (if (keyItems.isEmpty) fp.keyCols else keyItems.map {
          case (it, a2, _) => expr(sqlOfWith(it.e, qual)).as(a2) }) ++
        fp.argCols(sqlOfWith(_, qual)): _*)
      val schemaJ = fp.partial(feed).schema
      Folded(schemaJ, () => singleFold(feed, schemaJ,
        (_, _, acc, batch) => fp.merge(acc, fp.partial(batch)),
        (_, acc) => fp.finalized(acc),
        KeyedState(fp.keys, (_, _, batch) =>
          batch.select(fp.keyCols: _*)))
        .copy(needsFlush = jType != "inner"))
    } else {
      // carry the non-nullable side's watermarked event-time columns
      // through the projection (dropped again if this join is the
      // sink) so a downstream Append-mode window stage can bucket and
      // evict by them — Spark's chained stateful-operator path
      // (interval join → time-window aggregation); the alias metadata
      // keeps the watermark tag. full outer has no never-null side, so
      // nothing carries (a downstream window stage diagnoses the
      // missing 'ts' itself).
      val carrySide = jType match {
        case "inner" | "left_outer" => Some(la)
        case "right_outer" => Some(ra)
        case _ => None
      }
      val carry = carrySide.fold(Seq.empty[String])(s0 =>
        carriedTs(ast, c => joined.columns.contains(s"${s0}_$c")))
      Streamed(joined.select(itemsOf(ast).map { case (it, a2, _) =>
        expr(sqlOfWith(it.e, qual)).as(a2) } ++
        carry.map(c => col(s"${carrySide.get}_$c").as(c)): _*),
        if (jType == "inner") LiveMode.Append else LiveMode.AppendFlushed,
        carry)
    }
  }

  // ---------- helpers the lowerings share ----------

  /** `f OR ts >= flushCutoff`: keeps the user predicate above the
    * source watermark node (it now references the event-time column)
    * and lets flush sentinels through; real rows (ts < cutoff) see
    * exactly the original predicate, null semantics included. */
  private[api] def liveWhere(df: DataFrame, f: Expr): DataFrame =
    if (df.columns.contains("ts"))
      df.where(expr(sqlOf(f)) || col("ts") >= flushCutoff)
    else df.where(expr(sqlOf(f)))

  /** The watermarked event-time columns a projection stage carries for
    * a downstream window to bucket and evict by (dropped again if the
    * stage is the sink): `ts` and `ts_ns` where `has` finds them and no
    * select item takes their name; none above an aggregation. */
  private[api] def carriedTs(ast: Ast, has: String => Boolean)
      : Seq[String] =
    if (ast.select.exists(it => containsAgg(it.e))) Nil
    else {
      val aliases = itemsOf(ast).map(_._2).toSet
      Seq("ts", "ts_ns").filter(c => has(c) && !aliases.contains(c))
    }

  /** The input of a windowed aggregation deployed in APPEND mode
    * (timeBatch, cron, session): grouped on the built-in `window()` or
    * `session_window()` over the source-watermarked event-time column,
    * every pane or session emits exactly once when the watermark passes
    * its end and its state row is EVICTED (engine twins:
    * Streaming.timeBatchSum, Streaming.session). The guard drops flush
    * sentinels right above the watermark node — the predicate
    * references `ts`, so pushdown keeps it there. */
  private[api] def flushGuarded(base: DataFrame): DataFrame = {
    if (!base.columns.contains("ts"))
      fail("a live windowed aggregation needs the event-time column " +
        "'ts'")
    base.filter(col("ts") < flushCutoff)
  }

  /** timeBatch / cron: [[windowedSelect]] over the tumbling `window()`
    * of `ivNs` on the [[flushGuarded]] feed, its start emitted as
    * `name`. `window()` floors to epoch-aligned buckets, matching the
    * batch compile's `(ts_ns div T) * T` for the non-negative
    * timestamps the event-time contract requires; start-time alignment
    * (r17, `offNs`) rides its native startTime offset — same epoch +
    * k·T + s boundaries as the batch compile's shifted div. */
  private[api] def tumblingAgg(ast: Ast, base: DataFrame, name: String,
      ivNs: Long, offNs: Long): DataFrame = {
    val w =
      if (offNs == 0L) window(col("ts"), s"${ivNs / 1000} microseconds")
      else window(col("ts"), s"${ivNs / 1000} microseconds",
        s"${ivNs / 1000} microseconds", s"${offNs / 1000} microseconds")
    windowedSelect(ast, flushGuarded(base), "window", w,
      Seq(unix_millis(col("window.start")).as(name)))
  }

  /** Per-key buffered fold (length / timeLength / expression windows,
    * named by `wName`, over stream `table`): each group-by key's events
    * run through [[scanKey]] inside flatMapGroupsWithState, so state is
    * whatever `step` retains per key. */
  private[api] def bufferFold(ast: Ast, base: DataFrame, table: String,
      wName: String,
      step: (Vector[Cep.Ev], Cep.Ev) => (Vector[Cep.Ev], Vector[Cep.Ev]))
      : LiveStage = {
    val key = ast.groupBy match {
      case k :: Nil => k
      case _ => fail(s"live $wName window (v1) needs exactly one " +
        "group by key to partition the per-key fold")
    }
    val items = itemsOf(ast)
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import base.sparkSession.implicits._
    implicit val enc2: Encoder[Row] = evRows(items)
    Streamed(evsOf(base, table)
      .groupByKey(e => String.valueOf(field(e, key)))(Encoders.STRING)
      .flatMapGroupsWithState[Vector[Cep.Ev], Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, evs, st) =>
          val (buf, out) = scanKey(evs,
            st.getOption.getOrElse(Vector.empty[Cep.Ev]), items, step)
          st.update(buf)
          out.iterator
      }.toDF(), LiveMode.Append)
  }
}
