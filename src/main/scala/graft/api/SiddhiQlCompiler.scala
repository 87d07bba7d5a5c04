package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.engine.{Cep, Tables}

/** [[SiddhiQL]]'s batch compiler: single queries, joins, patterns,
  * windows (including the distributed band-join sliding frames), table
  * DML replay, incremental aggregation (the grain cascade), and the
  * [[FoldAlg]] mergeable-aggregate algebra shared with the live
  * channels; rate limiting lowers in [[SiddhiQlRate]]. Mixed into
  * `object SiddhiQL`. */
private[api] trait SiddhiQlCompiler extends Serializable {
  self: SiddhiQlFrontend with SiddhiQlRate =>
  // ---------- compiler ----------
  def compile(spark: SparkSession, dir: String, query: String): DataFrame = {
    scriptFns = Map.empty // single queries can't define functions
    compileOne(spark, dir, query, Map.empty)
  }

  /** Compile a whole Siddhi APP: `define stream ...;` declarations plus
    * `@info(name='q') from ... insert into Out;` queries, where later
    * queries may read earlier outputs BY NAME (`from Out`) — the chained
    * topology a SiddhiProcess deploys. Returns every named output stream
    * (query name from @info, else the insert-into target, else `q<i>`).
    * Chaining is pure plan composition: each stage extends the previous
    * stage's logical plan, so Catalyst optimizes the WHOLE app as one
    * tree (filters from late stages can reach the scan). */
  def compileApp(spark: SparkSession, dir: String,
                 app: String): Map[String, DataFrame] = {
    val stmts = splitStatements(app)
    scriptFns = Map.empty // defs are per-app, registered in textual order
    var env = Map.empty[String, DataFrame]
    var tableDefs = Map.empty[String, StructType]
    // `insert into Out` from MULTIPLE queries is the reference's fan-in:
    // the named stream carries the UNION of every writer (a
    // StreamJunction merging publishers). Tables are excluded — their
    // multi-writer semantics are the keyed MERGE in applyDml.
    def feed(target: String, df: DataFrame): DataFrame = {
      val next = env.get(target) match {
        case Some(prev) if !tableDefs.contains(target) =>
          if (prev.columns.toSet != df.columns.toSet)
            fail(s"queries inserting into '$target' disagree on its " +
              s"schema: [${prev.columns.mkString(", ")}] vs " +
              s"[${df.columns.mkString(", ")}]")
          prev.unionByName(df)
        case _ => df
      }
      env += target -> next
      next
    }
    var aggDefs = Map.empty[String, AggDef]
    var windowDefs = Map.empty[String, WindowSpec]
    var results = Map.empty[String, DataFrame]
    // DML writers per table, for the per-event enrichment-join route —
    // the batch twin of the live fold's dmlInfos
    var dmlWriters = Map.empty[String, List[DmlWriter]]
    // tables mutated by an ON-DEMAND DML statement (r16): the
    // mutation is point-in-time, so it composes with STORE reads
    // (which see env's post-mutation state) but not with constructs
    // that re-derive the table from its writer group per event
    var onDemandMutated = Set.empty[String]
    // @OnError(action='STREAM') prepass: an annotated stream S gets a
    // fault twin `!S` BEFORE any query compiles. v1 fault class =
    // integer divide/modulo by zero (Siddhi's runtime-exception routing
    // re-expressed as the routing predicate the expressions imply —
    // engine twin: Ops.faultStream's validation-predicate union): every
    // query reading S contributes the zero-divisor conditions of its
    // filter/select/having expressions; rows matching any condition
    // route to !S with _error, and S's own readers see only the clean
    // complement (an erroring event produces no main output).
    onErrorStreams(stmts).foreach { sN =>
      val (fault, clean) =
        onErrorSplit(loadTable(spark, dir, sN, env), stmts, sN)
      env += ("!" + sN) -> fault
      env += sN -> clean
    }
    var i = 0
    // one DML statement (shared by top-level queries and the eligible
    // partition-block hoist): compose order-composable writer groups,
    // register the writer for enrichment reads, record the result
    def runDmlStage(name: Option[String], ast: Ast, act: Action): Unit = {
      val schema = tableDefs.getOrElse(act.target, fail(
        s"'${act.target}' is not a defined table — add " +
          s"`define table ${act.target}(...)` before the DML query"))
      if (onDemandMutated(act.target))
        fail(s"'${act.target}' was mutated by an on-demand DML " +
          "statement — stream writers come BEFORE the point-in-time " +
          "mutation (move the on-demand update/delete after this query)")
      val prior = dmlWriters.getOrElse(act.target, Nil)
      // an ORDER-COMPOSABLE second writer re-merges ALL writers
      // so far from the empty table in per-event interleaved
      // order (Siddhi's semantics: an event flows through every
      // query in statement order) — sequential
      // statement-at-a-time application would let a later
      // writer's stale update beat an earlier writer's newer one
      // on the same key. Since round 11 `delete` sweepers are
      // composable too (tombstone emissions in the same
      // interleaved order: the last tombstone per key wipes
      // everything before it, later upserts re-insert — a user
      // whose LAST event matches the sweeper stays deleted,
      // one purged mid-stream is revived by later updates).
      // Since round 12 insert+delete composes too (an insert
      // row carries its key values; it dies under a later
      // tombstone and a re-insert revives the key). Residual
      // heterogeneous groups (insert+upsert, update/upsert-expr
      // mixes, mixed keys) are genuinely row-level replays
      // (dmlComposable scaladoc) and keep the
      // statement-sequential application.
      val next = ast.stream match {
        case ss: SingleStream if prior.nonEmpty &&
            dmlComposable(prior :+ ((ast, act, schema, ss.table))) =>
          applyDmlMulti(spark, dir,
            prior :+ ((ast, act, schema, ss.table)), schema,
            emptyOf(spark, schema), env)
        case _ =>
          applyDml(spark, dir, ast, act, schema, env(act.target),
            env)
      }
      env += act.target -> next
      ast.stream match {
        case ss: SingleStream =>
          dmlWriters += act.target ->
            (dmlWriters.getOrElse(act.target, Nil)
              :+ ((ast, act, schema, ss.table)))
        case _ => () // applyDml already failed non-single streams
      }
      val key = name
        .orElse(Some(act.target).filterNot(results.contains))
        .getOrElse { i += 1; s"q$i" }
      results += key -> next
    }
    // a non-DML query's result: fed into its insert-into target and
    // recorded under its @info name (else the target, else `q<i>`)
    def emit(name: Option[String], ast: Ast, df: DataFrame): Unit = {
      val key = name.orElse(ast.action.map(_.target)).getOrElse {
        i += 1; s"q$i"
      }
      ast.action.foreach(a => feed(a.target, df))
      results += key -> df
    }
    stmts.foreach { case (name, body, _) =>
      val head = body.split("\\s+", 2).headOption.getOrElse("")
      if (head.equalsIgnoreCase("define")) parseDefine(body).foreach {
        // a table starts as its empty seed; `define stream` is a no-op
        // (schemas come from parquet)
        case DefTable(t, schema) =>
          tableDefs += t -> schema
          env += t -> spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        // a SHARED window: queries `insert into W` feed it, any number
        // of later queries `from W` read THROUGH the same window spec
        // (the reference's named-window sharing; engine twin:
        // named_window_shared). Batch replay: each reader compiles as
        // fed-stream#window.spec — plan composition again, so Catalyst
        // fuses feeder and readers
        case DefWindow(w, spec) => windowDefs += w -> spec
        // a tick stream. Batch replay spans the replayed feed's
        // event-time range (aligned ticks over [min, max] of
        // events.ts_ns); a deployment drives the same plan from
        // wall-clock (engine twin: graft.engine.Ops.triggerGapfill / a
        // rate source)
        case DefTrigger(t, ivNs) =>
          val ivMs = ivNs / 1000000L
          env += t -> Tables.events(spark, dir)
            .agg(expr(s"(min(ts_ns) div ${ivNs}L) * ${ivMs}L").as("__lo"),
              expr(s"(max(ts_ns) div ${ivNs}L) * ${ivMs}L").as("__hi"))
            .select(explode(sequence(col("__lo"), col("__hi"),
              lit(ivMs))).as("tick_ms"))
        case DefFunction(b) => registerScriptFn(b)
        case DefAggregation(a, adef) => aggDefs += a -> adef
        case DefStream(_) => ()
      } else if (head.equalsIgnoreCase("partition")) {
        val pb = parsePartition(body)
        val envInner = env +
          (pb.src -> pb.view(loadTable(spark, dir, pb.src, env), identity))
        pb.queries(tableDefs.contains).foreach {
          case PartQuery(qName, ast, Some(act)) => runDmlStage(qName, ast, act)
          case PartQuery(qName, ast, None) =>
            emit(qName, ast, compileAst(spark, dir, ast, envInner, aggDefs,
              partKey = Some(pb.key)))
        }
      } else if (head.equalsIgnoreCase("from")) {
        val ast = new P(lex(body)).query()
        ast.dml(tableDefs.contains) match {
          case Some(act) => runDmlStage(name, ast, act)
          case None =>
            val ast1 = readNamedWindows(ast, windowDefs, env.contains)
            val df = ast1.stream match {
              // joining a DML-maintained table = the per-event
              // enrichment join (the event sees the table as of its
              // own stream position, not the end-of-replay state) —
              // the same construction the live fold runs per batch,
              // called once here with an empty seed over the whole
              // replay
              case j2x: JoinStream
                  if dmlWriters.contains(j2x.right.table) ||
                     dmlWriters.contains(j2x.left.table) =>
                val j2 = enrichmentSides(j2x, dmlWriters.contains)
                if (onDemandMutated(j2.right.table))
                  fail(s"'${j2.right.table}' was mutated by an " +
                    "on-demand DML statement — enrichment joins " +
                    "replay the table per event from its writer " +
                    "group, which a point-in-time mutation cannot " +
                    "join; read it with the store form " +
                    "(`from Table on cond select …`) instead")
                val ws = dmlWriters(j2.right.table)
                orderOffsetLimit(ast1, enrichCompile(spark, dir, ast1, j2,
                  ws, emptyOf(spark, ws.head._3), env))
              case _ => compileAst(spark, dir, ast1, env, aggDefs)
            }
            emit(name, ast, df)
        }
      } else if (head.equalsIgnoreCase("update") ||
                 head.equalsIgnoreCase("delete")) {
        // ON-DEMAND (store) DML (r16, SURVEY §2.7): Siddhi's runtime
        // `query()` mutation forms against tables — `update T set
        // T.c = expr, … on cond` / `delete T on cond` — applied
        // POINT-IN-TIME at their statement position (the API's
        // semantics: the mutation runs once against the table as of
        // now, here = after the preceding statements' full replay).
        // Expressions are table-side. Live n/a by definition: a
        // point-in-time mutation has no stream to trigger it.
        val p = new P(lex(body))
        val isUpd = p.tryKw("update")
        if (!isUpd) p.eatKw("delete")
        val t = p.ident()
        val schema = tableDefs.getOrElse(t, fail(
          s"on-demand DML targets a defined table; '$t' is not one"))
        // a never-fed table holds its empty define-time seed — the
        // mutation is a legal no-op, exactly like Siddhi's query()
        // matching nothing
        def colSql(e: Expr): String = sqlOfWith(e, {
          case q :: c :: Nil if q.equalsIgnoreCase(t) => c
          case c :: Nil => c
          case parts => fail("on-demand DML expressions reference " +
            s"table columns only; got '${parts.mkString(".")}'")
        })
        val cur = env(t)
        val next =
          if (!isUpd) {
            p.eatKw("on")
            // delete only condition-MATCHED rows: a NULL condition
            // keeps the row (the update arm's when/otherwise already
            // does), so both mutation forms share Siddhi's null
            // semantics
            cur.filter(!coalesce(expr(colSql(p.expr())), lit(false)))
          } else {
            p.eatKw("set")
            val sets = List.newBuilder[(String, Expr)]
            def one(): (String, Expr) = {
              val q2 = p.ident(); p.eatSym("."); val c = p.ident()
              if (!q2.equalsIgnoreCase(t))
                fail(s"set target '$q2.$c' must be qualified by the " +
                  s"updated table '$t'")
              if (!schema.fieldNames.contains(c))
                fail(s"'$t' has no column '$c'")
              p.eatSym("=")
              (c, p.expr())
            }
            sets += one()
            while (p.trySym(",")) sets += one()
            p.eatKw("on")
            val cond = expr(colSql(p.expr()))
            val setL = sets.result()
            val dup = setL.groupBy(_._1).collect {
              case (c, as2) if as2.length > 1 => c
            }
            if (dup.nonEmpty)
              fail("on-demand update sets column(s) " +
                s"${dup.mkString(", ")} more than once")
            val setM = setL.toMap
            cur.select(cur.columns.toSeq.map { c =>
              setM.get(c) match {
                case Some(e2) => when(cond, expr(colSql(e2))
                    .cast(schema(c).dataType)).otherwise(col(c)).as(c)
                case None => col(c)
              }
            }: _*)
          }
        env += t -> next
        onDemandMutated += t
        // the post-mutation table is the statement's observable state
        // (Siddhi's query() returns affected events; the deterministic
        // batch analog is the state itself)
        val key = name.getOrElse { i += 1; s"q$i" }
        results += key -> next
      } else fail(s"unsupported statement: '${body.take(40)}...'")
    }
    results
  }

  /** Split an app into `(optional @info name, statement body)` pairs:
    * ';' outside string literals separates statements, except inside
    * `partition with (...) begin q1; q2; end` blocks, whose segments are
    * re-joined into one statement. */
  private[api] def splitStatements(app: String)
      : List[(Option[String], String, Boolean)] = {
    val out = List.newBuilder[String]
    val cur = new StringBuilder
    var inStr = false
    var inDq = false // JS double-quoted strings inside function bodies
    var brace = 0    // `define function ... { return ...; }` bodies
    app.foreach {
      case '\'' if !inDq => inStr = !inStr; cur += '\''
      case '"' if !inStr => inDq = !inDq; cur += '"'
      case '{' if !inStr && !inDq => brace += 1; cur += '{'
      case '}' if !inStr && !inDq => brace -= 1; cur += '}'
      case ';' if !inStr && !inDq && brace == 0 =>
        out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    val flat = out.result().map(_.trim).filter(_.nonEmpty)
    val joined = List.newBuilder[String]
    val block = new StringBuilder
    var depth = 0
    def words(s: String, w: String): Int =
      ("(?i)\\b" + w + "\\b").r.findAllIn(s).length
    flat.foreach { seg =>
      val d = words(seg, "begin") - words(seg, "end")
      if (depth == 0 && d == 0) joined += seg
      else {
        if (block.nonEmpty) block.append("; ")
        block.append(seg)
        depth += d
        if (depth == 0) { joined += block.toString; block.clear() }
        else if (depth < 0) fail("unbalanced begin/end")
      }
    }
    if (depth != 0) fail("partition block missing 'end'")
    joined.result().flatMap(stripAnnotations)
  }

  /** Strip leading `@name(...)` / `@ns:name(...)` annotations from a
    * statement — real reference apps open with `@app:name('…')` and
    * decorate streams with `@source(type='kafka', @map(type='json'))` /
    * `@sink(...)` transport config (deployment concerns, documented
    * delta SURVEY §7.4; nested annotations and quoted strings are
    * skipped with a balanced scan). `@info(name='x')` is kept as the
    * query name; an annotation-only statement (e.g. a bare `@app:name`)
    * dissolves. */
  private[api] def stripAnnotations(stmt: String)
      : Option[(Option[String], String, Boolean)] = {
    var s = stmt
    var name: Option[String] = None
    var onErr = false
    var go = true
    while (go) {
      val m = "(?s)^@\\s*([A-Za-z_][A-Za-z0-9_]*(?::[A-Za-z_][A-Za-z0-9_]*)?)\\s*\\("
        .r.findFirstMatchIn(s)
      m match {
        case None => go = false
        case Some(mm) =>
          // balanced-paren scan from the annotation's '(' — respects
          // single-quoted strings and nested @map(...) annotations
          var i = mm.end - 1
          var depth = 0
          var inStr = false
          var endAt = -1
          while (endAt < 0 && i < s.length) {
            s(i) match {
              case '\'' => inStr = !inStr
              case '(' if !inStr => depth += 1
              case ')' if !inStr =>
                depth -= 1
                if (depth == 0) endAt = i
              case _ => ()
            }
            i += 1
          }
          if (endAt < 0) fail(s"unbalanced annotation: '${s.take(40)}...'")
          val ann = mm.group(1).toLowerCase
          if (ann == "info") {
            val body = s.substring(mm.end, endAt)
            name = "name\\s*=\\s*'([^']*)'".r.findFirstMatchIn(body)
              .map(_.group(1)).orElse(name)
          }
          if (ann == "onerror") {
            // `@OnError(action='STREAM')` — the annotated stream gets a
            // fault twin readable as `from !S` (other actions are sink
            // retry policy, out of engine scope)
            val body = s.substring(mm.end, endAt)
            if ("(?i)action\\s*=\\s*'STREAM'".r.findFirstIn(body).isEmpty)
              fail("@OnError supports action='STREAM' (v1); got " +
                s"'@OnError($body)'")
            onErr = true
          }
          s = s.substring(endAt + 1).trim
      }
    }
    if (s.isEmpty) None else Some((name, s, onErr))
  }

  // ---------- app front-end shared by compileApp and deployStages ----------
  // Pure parsing and AST rewrites only: each surface keeps its own
  // in-order statement loop and decides what a parsed statement becomes
  // (a batch plan, a streaming stage, a fold).

  /** A parsed `define` statement (see [[parseDefine]]). */
  private[api] sealed trait Define
  /** `define stream S (...)` — the schema comes from the data, so only
    * the name is kept (the `@OnError` prepass needs it). */
  private[api] final case class DefStream(name: String) extends Define
  /** `define table T (col type, ...)` — the mutable state DML targets. */
  private[api] final case class DefTable(name: String, schema: StructType)
      extends Define
  /** `define window W (cols) spec` — a shared window readers go through
    * (the column list is declarative: the feeding query fixes it). */
  private[api] final case class DefWindow(name: String, spec: WindowSpec)
      extends Define
  /** `define trigger T at every <interval>`. */
  private[api] final case class DefTrigger(name: String, ivNs: Long)
      extends Define
  /** `define aggregation A from ... aggregate by ts every grains`. */
  private[api] final case class DefAggregation(name: String, agg: AggDef)
      extends Define
  /** `define function f[javascript] return type { ... }`, registered
    * by the surface with [[registerScriptFn]] in textual order. */
  private[api] final case class DefFunction(body: String) extends Define

  /** Parse one `define` statement; None for any other statement and for
    * define kinds outside the six above (both surfaces ignore those). A
    * function body is not run through the SiddhiQL lexer — it is
    * JavaScript, parsed by [[registerScriptFn]]. */
  private[api] def parseDefine(body: String): Option[Define] = {
    val words = body.split("\\s+", 3)
    val kind = words.lift(1).map(_.toLowerCase).getOrElse("")
    if (!words(0).equalsIgnoreCase("define")) None
    else if (kind == "function") Some(DefFunction(body))
    else if (!Set("stream", "table", "window", "trigger",
        "aggregation")(kind)) None
    else {
      val p = new P(lex(body))
      p.eatKw("define"); p.eatKw(kind)
      if (kind == "aggregation") {
        val (aname, adef) = parseAggDefRest(p)
        Some(DefAggregation(aname, adef))
      } else {
        val name = p.ident()
        Some(kind match {
          case "stream" => DefStream(name)
          case "table" =>
            p.eatSym("(")
            val fields = List.newBuilder[StructField]
            def one(): StructField = {
              val c = p.ident()
              StructField(c, typeOf(p.ident()))
            }
            fields += one()
            while (p.trySym(",")) fields += one()
            p.eatSym(")")
            DefTable(name, StructType(fields.result()))
          case "window" =>
            p.eatSym("(")
            var done = false
            while (!done) { p.ident(); p.ident()
              if (!p.trySym(",")) { p.eatSym(")"); done = true } }
            DefWindow(name, p.windowNameArgs())
          case _ =>
            p.eatKw("at"); p.eatKw("every")
            DefTrigger(name, p.duration())
        })
      }
    }
  }

  /** The streams an app annotates `@OnError(action='STREAM')`, in
    * textual order. Each gets a fault twin `!S` ([[onErrorSplit]]) in
    * the read environment before any query compiles; the surface
    * supplies S's base relation. */
  private[api] def onErrorStreams(
      stmts: List[(Option[String], String, Boolean)]): List[String] =
    stmts.collect { case (_, b, true) =>
      parseDefine(b) match {
        case Some(DefStream(n)) => n
        case _ => fail("@OnError annotates a `define stream` (v1)")
      }
    }

  /** One query of a partition block, rewritten to run outside it (see
    * [[Partition.queries]]): `dml` is set for a table-DML writer hoisted
    * to top level, None for a query over the block's [[Partition.view]]. */
  private[api] final case class PartQuery(name: Option[String], ast: Ast,
      dml: Option[Action])

  /** A parsed `partition with (<spec> of <src>) begin <queries> end`
    * block: a keyed attribute, or first-match-wins range branches
    * `cond as 'label' or ...` (SURVEY §1.1; engine twins:
    * graft.engine.Ops.partitionPerKey / partitionRange). Spark's shuffle
    * IS the partition: the key prepends to every inner grouping, so the
    * reference's per-key query instances become ONE keyed plan, per-key
    * parallel at any executor count (and a lengthBatch inside a
    * partition chunks per key). */
  private[api] final case class Partition(src: String,
      keyAttr: Option[String], ranges: List[(Expr, String)],
      inner: String) {
    /** The column the block's queries are keyed by. */
    def key: String = keyAttr.getOrElse("partition_key")

    /** `base` (the surface's relation for [[src]]) as the block's
      * non-DML queries read it. A range block labels each event with
      * its first matching range; events matching none leave the
      * partition, through the filter `keep(partition_key IS NOT NULL)`
      * (live widens it so flush sentinels still reach the watermark). */
    def view(base: DataFrame, keep: Column => Column): DataFrame =
      keyAttr match {
        case Some(attr) =>
          if (!base.columns.contains(attr))
            fail(s"partition attribute '$attr' is not a column of '$src'")
          base
        case None =>
          val keyCol = ranges.tail.foldLeft(
            when(expr(sqlOf(ranges.head._1)), lit(ranges.head._2))) {
            case (acc, (c, l)) => acc.when(expr(sqlOf(c)), lit(l))
          }
          base.withColumn(key, keyCol).where(keep(col(key).isNotNull))
      }

    /** The block's queries in textual order, each rewritten to run
      * outside the block. A non-DML query keeps reading [[src]] (the
      * surface binds it to [[view]]) with [[key]] prepended to its
      * grouping when it windows or aggregates. A table-DML query HOISTS
      * to legitimate top-level writer AST(s) over the unpartitioned
      * stream, so the registered writer recompiles identically
      * everywhere the DML algebra reads it back (multi-writer merges,
      * enrichment reads, live folds):
      *  - per-event + keyed: partition-invariant (per-event DML holds
      *    no per-key state), hoisted verbatim.
      *  - windowed/aggregating + keyed: per-key window instances over
      *    the ALIGNED timeBatch buckets == ONE writer grouped by
      *    (key ∪ group by), the non-DML key-prepend equivalence.
      *  - per-event + range: the ranges only scope instances, so the
      *    writer sees exactly the events matching ANY range — the OR of
      *    the range conditions is ANDed into its filter.
      *  - windowed + range: one writer per label with the first-match
      *    filter (cond_i and not(earlier conds)), named `<q>__r<i>` past
      *    the first; the label filters are disjoint, so each event
      *    feeds exactly one instance, and the writers' interleaved
      *    emission order is [[applyDmlMulti]]'s order algebra
      *    (same-instant flushes of different labels tie-break on
      *    statement index; the reference leaves concurrent instance
      *    flush order unspecified).
      * `isTable` tells an `insert into` a defined table (DML) from a
      * stream insert. */
    def queries(isTable: String => Boolean): List[PartQuery] =
      inner.split(";").map(_.trim).filter(_.nonEmpty)
        .flatMap(stripAnnotations).toList.flatMap { case (qName, qBody, _) =>
          val ast0 = new P(lex(qBody)).query()
          val ss0 = ast0.stream match {
            case ss: SingleStream if ss.table.equalsIgnoreCase(src) => ss
            case _: SingleStream => fail("partitioned queries read the " +
              s"partitioned stream '$src' (v1)")
            case j: JoinStream => fail("partition blocks hold " +
              "single-stream queries (v1; joins/patterns stay outside): " +
              s"'${j.left.table}' joins '${j.right.table}'")
            case _ => fail("partition blocks hold single-stream queries " +
              "(v1; joins/patterns stay outside)")
          }
          val hasAgg = ast0.select.exists(it => containsAgg(it.e))
          def keyed(need: Boolean): Ast =
            if (need && !ast0.groupBy.contains(key))
              ast0.copy(groupBy = key :: ast0.groupBy)
            else ast0
          val dml = ast0.dml(isTable)
          if (dml.isEmpty)
            List(PartQuery(qName, keyed(ss0.window.nonEmpty || hasAgg), None))
          else {
            val winOrAgg =
              ss0.window.nonEmpty || hasAgg || ast0.groupBy.nonEmpty
            def andF(c: Expr): Ast = ast0.copy(stream = ss0.copy(
              filter = Some(ss0.filter.fold(c)(f0 => Bin("and", c, f0)))))
            def or(cs: List[Expr]): Expr = cs.reduce((a, b) => Bin("or", a, b))
            keyAttr match {
              case Some(_) => List(PartQuery(qName, keyed(winOrAgg), dml))
              case None =>
                val conds = ranges.map(_._1)
                if (!winOrAgg) List(PartQuery(qName, andF(or(conds)), dml))
                else conds.zipWithIndex.map { case (c, idx) =>
                  if (idx == 0) PartQuery(qName, andF(c), dml)
                  else PartQuery(qName.map(_ + s"__r$idx"),
                    andF(Bin("and", c, Not(or(conds.take(idx))))), dml)
                }
            }
          }
        }
  }

  /** Parse a `partition with (<spec> of <src>) begin <queries> end`
    * statement into a [[Partition]]. */
  private[api] def parsePartition(body: String): Partition = {
    val m = ("(?is)^partition\\s+with\\s*\\((.*)\\)\\s*" +
      "begin\\b(.*?)\\bend\\s*$").r.findFirstMatchIn(body)
      .getOrElse(fail("malformed partition: expected `partition " +
        "with (<spec> of <stream>) begin <queries> end`"))
    val (spec, innerBody) = (m.group(1), m.group(2))
    val sp = new P(lex(spec))
    val ranges = List.newBuilder[(Expr, String)]
    var keyAttr: Option[String] = None
    var done = false
    while (!done) {
      val e = sp.rangeExpr()
      if (sp.tryKw("as")) {
        val label = sp.advance() match {
          case TStr(l) => l
          case t => fail(s"range label must be a string, got $t")
        }
        ranges += ((e, label))
        if (!sp.tryKw("or")) done = true
      } else {
        e match {
          case Ref(attr :: Nil) => keyAttr = Some(attr); done = true
          case other => fail("partition spec must be `<attr> of S` " +
            s"or `cond as 'label' or ... of S`, got '${sqlOf(other)}'")
        }
      }
    }
    sp.eatKw("of")
    Partition(sp.ident(), keyAttr, ranges.result(), innerBody)
  }

  /** Reads of a `define window` compile as fed-stream#window.spec — on
    * single-stream reads AND on join sides (r16: Siddhi joins a named
    * window like any windowed stream; the rewritten shape must be one
    * the join compiler supports). `fed` tells whether an earlier query
    * has inserted into the window. */
  private[api] def readNamedWindows(ast: Ast,
      windows: Map[String, WindowSpec], fed: String => Boolean): Ast = {
    def namedWin(ss: SingleStream): SingleStream =
      if (windows.contains(ss.table) && ss.window.isEmpty) {
        if (!fed(ss.table))
          fail(s"named window '${ss.table}' has not been fed " +
            s"— add an `insert into ${ss.table}` query first")
        ss.copy(window = Some(windows(ss.table)))
      } else ss
    ast.stream match {
      case ss: SingleStream => ast.copy(stream = namedWin(ss))
      case j: JoinStream => ast.copy(stream = j.copy(
        left = namedWin(j.left), right = namedWin(j.right)))
      case _ => ast
    }
  }

  /** An enrichment join (a join reading a DML-maintained table) with
    * the table on the RIGHT: an INNER join is symmetric, so a table on
    * the left auto-swaps (Siddhi accepts either side); outer directions
    * keep the stream-left convention and a table on their left fails. */
  private[api] def enrichmentSides(j: JoinStream,
      maintained: String => Boolean): JoinStream = {
    val j2 =
      if (maintained(j.left.table) && !maintained(j.right.table) &&
          j.joinType == "inner")
        j.copy(left = j.right, leftAlias = j.rightAlias,
          right = j.left, rightAlias = j.leftAlias)
      else j
    if (maintained(j2.left.table))
      fail("an OUTER enrichment join puts the maintained " +
        "table on the RIGHT side (v1) — swap the join " +
        "sides (inner joins swap automatically)")
    j2
  }

  // ---------- incremental aggregation (define aggregation + within/per) --
  /** Grain ladder, finest first (`sec ... day` ranges expand over this). */
  private[api] val grainLadder = List("sec" -> 1000L, "min" -> 60000L,
    "hour" -> 3600000L, "day" -> 86400000L)
  private[api] def grainKey(g: String): String = g.toLowerCase match {
    case "sec" | "second" | "seconds" => "sec"
    case "min" | "minute" | "minutes" => "min"
    case "hour" | "hours"             => "hour"
    case "day" | "days"               => "day"
    case other => fail(s"unknown aggregation grain '$other' " +
      "(sec|min|hour|day)")
  }
  private[api] def grainMsOf(g: String): Long =
    grainLadder.find(_._1 == g).get._2

  /** A parsed `define aggregation`: the stored-select shape plus the
    * grain range it maintains. */
  private[api] final case class AggDef(source: String, filter: Option[Expr],
      select: List[SelItem], groupBy: List[String], tsAttr: String,
      grains: List[String])

  private[api] def typeOf(t: String): DataType = t.toLowerCase match {
    case "int"    => IntegerType
    case "long"   => LongType
    case "float"  => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "bool"   => BooleanType
    case other => fail(s"define table: unknown type '$other'")
  }

  /** One stream→table DML statement under batch-replay semantics: the
    * source replays in event order (`ts_ns, event_id`), so per key the
    * FIRST event is the row an upsert would have inserted and the LAST
    * event carries the values the final update applied. That collapses
    * the whole replay into one `groupBy(key).agg(min_by, max_by, count)`
    * plus one keyed join against the table state — one shuffle on the
    * table key regardless of stream size, no per-event loop anywhere
    * (the 100 TB shape; a 1000-executor MERGE looks exactly like this).
    *
    * v1 restrictions (fail fast, named): single un-joined source, plain
    * filtered projection (no window/group/order), `on` must be a
    * conjunction of `Table.col == <stream expr>` equalities, and `set`
    * right-hand sides reference the stream's output attributes only —
    * `set T.n = T.n + 1`-style table folds are NOT last-event-wins
    * collapsible and stay on the engine's micro-batch upsert path
    * (graft.engine.Streaming.tableUpsert). */
  /** A table-DML / enrichment-join `on` clause → List[(table column,
    * sql over the stream side)]: a conjunction of `T.col == <expr>`
    * equalities where the non-table side may not reference `T`.
    * `qual` renders the stream-side references (the enrichment join
    * strips its stream alias with it; DML keeps plain dotted paths). */
  private[api] def keyEqsOf(on: Expr, t: String,
      qual: List[String] => String = _.mkString(".")
      ): List[(String, String)] = {
    def rhsSql(e: Expr): String = sqlOfWith(e, {
      case tn :: _ if tn.equalsIgnoreCase(t) =>
        fail(s"'on' comparison value may not reference table '$t' " +
          "columns on both sides")
      case parts => qual(parts)
    })
    on match {
      case Bin("and", l, r) => keyEqsOf(l, t, qual) ++ keyEqsOf(r, t, qual)
      case Bin("==", Ref(tn :: c :: Nil), rhs)
          if tn.equalsIgnoreCase(t) => List((c, rhsSql(rhs)))
      case Bin("==", lhs, Ref(tn :: c :: Nil))
          if tn.equalsIgnoreCase(t) => List((c, rhsSql(lhs)))
      case other => fail("table DML 'on' must be a conjunction of " +
        s"$t.<col> == <stream expr> equalities, got '${sqlOf(other)}'")
    }
  }

  /** The per-event ENRICHMENT JOIN: `from S join T on T.k == k
    * select ...` where `T` is a table maintained by a sibling
    * `update or insert` DML stage. Siddhi processes events one at a
    * time, so the join sees the table AS OF each event's position in
    * the stream (the event's own update is visible — the DML stage is
    * declared first). Compiled as ONE keyed window pass: update rows,
    * accumulated state seeds (ordered before everything), and arriving
    * events union into a per-key timeline ordered by (ts_ns, event_id,
    * updates-before-events); `last(state, ignoreNulls)` over the
    * running frame fills each event's as-of row. One shuffle on the
    * table key — state and events co-partition, no per-event lookups,
    * no broadcast of unbounded state. Because the construction never
    * references batch boundaries, the SAME code serves both channels:
    * the live fold calls it per micro-batch with the accumulated table
    * as `accTable`, and the batch replay calls it once with an empty
    * seed over the whole-replay environment — chunking-invariance by
    * construction. */
  /** One PER-EVENT writer's update relation over `env`: its select
    * outputs + `__ord` (ts_ns, event_id, statement index `wi`).
    * Shared by [[enrichCompile]]'s uTagUpd and the live mixed-writer
    * fold's per-trigger latest-state deltas, so the two derive the
    * same rows by construction. */
  private[api] def perEventURel(sp: SparkSession, dir: String,
      dAst: Ast, dSrc: String, wi: Int,
      env: Map[String, DataFrame]): (DataFrame, List[String]) = {
    val uBase = writerSource(sp, dir, dAst, dSrc, env)
    val uItems = itemsOf(expandStar(dAst, uBase.columns))
    (uBase.select(uItems.map { case (it, a2, _) =>
      expr(sqlOf(it.e)).as(a2) } :+
      struct(col("ts_ns"), col("event_id"),
        lit(wi.toLong).as("w")).as("__ord"): _*),
      uItems.map(_._2))
  }

  /** A DML writer's source rows over `env`: its stream `wSrc` through
    * the writer's filter (membership conjuncts become semi/anti joins,
    * so the columns stay the stream's). */
  private[api] def writerSource(sp: SparkSession, dir: String, wAst: Ast,
      wSrc: String, env: Map[String, DataFrame]): DataFrame = {
    val b0 = loadTable(sp, dir, wSrc, env)
    (wAst.stream match {
      case ss: SingleStream => ss.filter
      case _                => None
    }).fold(b0)(f => applyFilter(sp, dir, b0, f, env))
  }

  private[api] def enrichCompile(sp: SparkSession, dir: String, ast: Ast,
      j: JoinStream, winfos: List[DmlWriter],
      accTable: DataFrame, env: Map[String, DataFrame],
      winFlush: Map[Int, DataFrame] = Map.empty,
      // per-writer PRE-BUILT update relation (select outputs +
      // `__ord`) replacing the per-event derivation from `env` — the
      // live mixed-writer fold passes (prior latest-per-key rows ∪
      // this batch's rows) here so prior updates keep their TRUE ords
      // across triggers instead of collapsing into the ord-MinValue
      // accTable seed (which would sort them before an older flush)
      uRelOverride: Map[Int, DataFrame] = Map.empty,
      // per-writer PRE-BUILT EMISSION relation for the event-log path
      // (output columns + a 3-field `__ord`) — the live windowed-log
      // fold (r15) passes (pruned prior log rows ∪ this batch's
      // emissions) for per-event members and the cross-trigger flush
      // relation for windowed members, all at TRUE ords
      emisOverride: Map[Int, DataFrame] = Map.empty): DataFrame = {
    val dSchema = winfos.head._3
    val tSide = j.right; val sSide = j.left
    val tName = tSide.table
    if (j.unidirectional)
      fail("live enrichment joins are already one-directional " +
        "(events trigger, the table holds state) — drop " +
        "`unidirectional`")
    if (tSide.window.nonEmpty)
      fail("live enrichment joins read the whole maintained table " +
        s"'$tName' (v1) — no window on the table side")
    if (sSide.window.nonEmpty)
      fail("live enrichment joins are per-event lookups (v1) — no " +
        "window on the stream side")
    if (ast.select.exists(it => containsAgg(it.e)) ||
        ast.groupBy.nonEmpty || ast.having.nonEmpty)
      fail("live enrichment joins project columns (v1) — aggregate " +
        "in a downstream stage")
    if (ast.limit.nonEmpty || ast.offset.nonEmpty)
      fail("live enrichment joins have no limit/offset (v1)")
    // a WINDOWED (timeBatch) writer is per-event readable since r11:
    // its update rows are the FLUSH rows, each visible from its
    // bucket END — an event sees the latest completed flush for its
    // key (Siddhi: the table at the event's position holds the
    // flushes so far), and the same last-wins / accumulator-fold
    // reconstruction below applies unchanged because a flush row IS
    // an update row at ord (bucket end, 0, statement). Since r14 that
    // holds for windowed writers in MULTI-writer upsert groups too —
    // uTagUpd derives each writer's update relation independently
    // (flush rows for windowed members, event rows for per-event
    // members), and the per-key timeline interleaves them by
    // (visibility instant, event_id, statement index). Only the
    // event-log (insert-mix) path below still excludes windowed
    // members: its per-(event, live row) segment construction is
    // origin-row algebra over per-event inserts.
    val winWriterCnt = winfos.count { case (dAst2, _, _, _) =>
      dAst2.stream match {
        case ss2: SingleStream => ss2.window.nonEmpty
        case _ => false
      }
    }
    // `delete` sweepers are per-event readable too (r11): a delete
    // emission is a TOMBSTONE at its interleaved position — the as-of
    // state for its key becomes absent until a later upsert
    // re-inserts (inner drops the event, left outer null-pads it).
    // Fold (`set T.c = T.c + expr`) upserts compose with sweepers via
    // the SEGMENT-scoped fold window below: the cumulative tombstone
    // count per key segments the running sums, so each fold restarts
    // from the next upsert-INSERT after a sweep (gated by
    // sql_enrich_tombstone_fold + its live twin).
    val (delWI, updWI) = winfos.zipWithIndex
      .partition(_._1._2.isInstanceOf[DeleteTable])
    if (updWI.isEmpty)
      fail(s"enrichment joins read a table with at least one " +
        s"`update or insert` or `insert into` writer (v1) — " +
        s"'$tName' has only delete sweepers")
    // INSERT-log tables (r12): when every non-delete writer is a plain
    // `insert into`, the table is an EVENT LOG (multiset) — a read
    // matches every row currently live for its key (the cart
    // pattern), one output row per (event, live row), reconstructed
    // per event by the segment construction below. Since r13 the log
    // path also takes IMPLICIT-SET upserts mixed in: an upsert
    // replaces every live row of its key at its position (inserting
    // one iff the key is empty there), so each (event, live row) pair
    // overlays the row's values with the key's LAST upsert between
    // the row's origin and the event — one extra running-last window
    // column, same keyed shuffle.
    if (updWI.exists(_._1._2.isInstanceOf[InsertInto])) {
      // windowed members compose since r15: a flush row's origin is
      // its bucket END — enrichLogCompile derives windowed writers'
      // emissions via dmlEmissions and tags them at (end, 0, stmt)
      val nonIns = updWI.filterNot(_._1._2.isInstanceOf[InsertInto])
      val implicitUps = nonIns.forall(_._1._2 match {
        case UpsertTable(_, set, _) => set.isEmpty
        case _ => false
      })
      // accumulator-fold upserts in the log group (r14): a fold
      // upsert ADDS its delta to every live row of its key — per-pair
      // reconstructible as total-minus-prefix sums (enrichLogCompile)
      val foldUps = nonIns.forall(_._1._2 match {
        case UpsertTable(_, set, _) =>
          set.nonEmpty &&
            set.forall { case (c, e) => foldSetOf(tName, c, e).nonEmpty }
        case _ => false
      })
      if (!implicitUps && !foldUps)
        fail(s"enrichment joins read an event-log table whose " +
          s"non-insert writers are IMPLICIT-SET or ACCUMULATOR-FOLD " +
          s"`update or insert` (v1) — '$tName' mixes inserts with " +
          "general expr-set or update writers, whose per-row values " +
          "make the replay row-level (read the table directly with " +
          s"`from $tName`, or split the read across two tables)")
      return enrichLogCompile(sp, dir, ast, j, winfos, accTable, env,
        emisOverride)
    }
    // implicit set (last-event-wins) or ALL-accumulator-fold set
    // (`set T.c = T.c + expr`) — the two per-event-reconstructible
    // shapes: last-wins reconstructs as a running last() window,
    // folds as a running sum of per-event deltas. With SEVERAL writers
    // every writer must share the key columns and the fold spec
    // (column → operator); each keeps its OWN delta expressions.
    val perWriter: List[(Expr, List[(String, (String, Expr))])] =
      updWI.map { case ((_, dAct, _, _), _) =>
        dAct match {
          case UpsertTable(_, set, on) =>
            val parsed = set.map { case (c, e) =>
              (c, foldSetOf(tName, c, e)) }
            if (parsed.exists(_._2.isEmpty) && set.nonEmpty)
              fail("live enrichment joins read a table maintained by " +
                "`update or insert` with an IMPLICIT set or accumulator " +
                s"folds (`set $tName.c = $tName.c + expr`) (v1) — " +
                "other set expressions are not per-event " +
                "reconstructible")
            (on, parsed.collect { case (c, Some(f)) => c -> f })
          case a2 => fail("live enrichment joins read a table " +
            s"maintained by `update or insert` (v1); '$tName' takes " +
            s"'${a2.getClass.getSimpleName}'")
        }
      }
    val dOn = perWriter.head._1
    // SHAPE MIXES compose (r15): implicit-set writers RESET the row
    // (a new fold segment with their values as its base), fold
    // writers accumulate within the current segment — so a group may
    // mix the two shapes freely. Among the FOLD writers the fold spec
    // (column → operator) must still agree; dFolds is theirs.
    val foldMaps = perWriter.map(_._2).filter(_.nonEmpty)
    val dFolds = foldMaps.headOption.getOrElse(Nil)
    if (foldMaps.map(_.map { case (c, (op, _)) => (c, op) }.toMap)
        .distinct.length > 1)
      fail(s"multi-writer enrichment table '$tName' (v1): every " +
        "FOLD writer must fold the SAME columns with the same " +
        "operators")
    // true when implicit-set and fold writers coexist: implicit rows
    // then carry a ZERO delta (they participate in the segment sums
    // as resets, not additions) and mark segment boundaries
    val mixedShapes = dFolds.nonEmpty &&
      perWriter.exists(_._2.isEmpty)
    val joinKind = j.joinType match {
      case "inner" | "left_outer" => j.joinType
      case other => fail("enrichment joins are inner or left outer " +
        "(RECORDED DECISION, r13): the table is PASSIVE — only stream " +
        "events trigger emissions, so a right/full outer's unmatched " +
        "TABLE rows have no triggering event and would never emit; " +
        "for an end-of-replay snapshot of unmatched table rows use an " +
        s"on-demand store query instead — got '$other'")
    }
    val sName = sSide.table
    val tAlias = j.rightAlias.getOrElse(tName)
    val sAlias = j.leftAlias.getOrElse(sName)
    val dmlKeys = keyEqsOf(dOn, tName)
    val dmlKeysPer = perWriter.map { case (on, _) => keyEqsOf(on, tName) }
    // join-key stream refs evaluate over the FLAT event columns —
    // strip the stream alias
    val joinKeys = keyEqsOf(j.on, tName, {
      case q :: c :: Nil
          if q.equalsIgnoreCase(sAlias) || q.equalsIgnoreCase(sName) =>
        c
      case parts => parts.mkString(".")
    })
    val keyOrder = dmlKeys.map(_._1).distinct.sorted
    dmlKeysPer.foreach { ks =>
      if (ks.map(_._1).distinct.sorted != keyOrder)
        fail(s"multi-writer enrichment table '$tName' (v1): every " +
          s"writer must key on (${keyOrder.mkString(", ")})")
    }
    delWI.foreach { case ((_, dAct2, _, _), _) =>
      val dk = dAct2 match {
        case DeleteTable(_, on2) => keyEqsOf(on2, tName)
        case _ => Nil
      }
      if (dk.map(_._1).distinct.sorted != keyOrder)
        fail(s"enrichment sweepers on '$tName' (v1) must delete on " +
          s"the writer key columns (${keyOrder.mkString(", ")})")
    }
    if (joinKeys.map(_._1).distinct.sorted != keyOrder)
      fail("live enrichment joins match on the SAME table columns " +
        s"the DML keys on (${keyOrder.mkString(", ")}); the join " +
        s"uses (${joinKeys.map(_._1).distinct.sorted.mkString(", ")})")
    val tCols = dSchema.fieldNames.toSet
    val items = itemsOf(ast)
    val updC = struct(dSchema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val updType = StructType(dSchema.fields)
    def keyC(exprs: Seq[String]): Column =
      struct(keyOrder.zip(exprs).map { case (kc, ex) =>
        expr(ex).as(s"__k_$kc") }: _*)
    val eBase0 = loadTable(sp, dir, sName, env)
    val eBase = sSide.filter.fold(eBase0)(f =>
      applyFilter(sp, dir, eBase0, f, env))
    Seq("ts_ns", "event_id").foreach(c =>
      if (!eBase.columns.contains(c))
        fail(s"live enrichment joins need '$c' on the stream side; " +
          s"'$sName' lost it — select it through"))
    val evtC = struct(eBase.columns.toSeq.map(col): _*)
    val evtType = StructType(eBase.schema.fields)
    val fdType = StructType(dFolds.map { case (c, _) =>
      StructField(c, dSchema(c).dataType) })
    // U = the union of every writer's update rows (each writer's
    // select output) in arrival order — the `w` ord field is the
    // statement index, so an event flowing through two writers applies
    // their updates in statement order (Siddhi's per-event flow); an
    // EVENT row carries w = MaxValue so it sorts after its own
    // same-instant updates. Per-event fold deltas evaluate against
    // each writer's OWN select outputs (null on event rows, zero on
    // the accumulated seed — its values already carry every prior
    // fold).
    val uTagUpd = updWI.zipWithIndex.map {
      case (((dAst, dAct, _, dSrc), wi), ui) =>
        val wKeys = dmlKeysPer(ui)
        val wFolds = perWriter(ui)._2
        val winT: Option[Long] = dAst.stream match {
          case ss2: SingleStream => ss2.window match {
            case Some(w2 @ TimeBatch(t2, _)) =>
              requireEpochTb(w2,
                "windowed-writer enrichment flush recomputes")
              Some(t2)
            case Some(w2) => fail("windowed-writer enrichment reads " +
              s"a timeBatch writer (v1); '#window.${w2.name}' flush " +
              "emissions have no per-event visibility instant")
            case None => None
          }
          case _ => None
        }
        val (uSel, uOut) = winT match {
          case Some(t2) =>
            // FLUSH rows as the update relation, each visible from
            // its bucket END ((bucket+1)·T, event_id 0): either from
            // the live fold's pre-merged partial state (winFlush:
            // (__wb, outCols)) or recomputed from the raw stream
            // (the batch replay — dmlEmissions' windowed branch)
            val sel2 = winFlush.get(wi) match {
              case Some(flushRel) =>
                val cols = flushRel.columns.filterNot(_ == "__wb").toList
                (flushRel.select(cols.map(col) :+ struct(
                  ((col("__wb") + lit(1L)) * lit(t2)).cast("long")
                    .as("ts_ns"),
                  lit(0L).as("event_id"),
                  lit(wi.toLong).as("w")).as("__ord"): _*), cols)
              case None =>
                val (sel0, outCols0) =
                  dmlEmissions(sp, dir, dAst, dAct, dSchema, env)
                (sel0.withColumn("__ord", struct(
                  (col("__g_ord.ts_ns") + lit(t2)).as("ts_ns"),
                  col("__g_ord.event_id"),
                  lit(wi.toLong).as("w"))).drop("__g_ord"),
                  outCols0.toList)
            }
            sel2
          case None => uRelOverride.get(wi) match {
            case Some(rel) =>
              (rel, rel.columns
                .filterNot(c => c == "__ord" || c == "__fd").toList)
            case None => perEventURel(sp, dir, dAst, dSrc, wi, env)
          }
        }
        def deltaSql(e: Expr): String = sqlOfWith(e, {
          case c :: Nil if uOut.contains(c) => c
          case parts => fail(s"fold delta reference " +
            s"'${parts.mkString(".")}' is not a DML select output " +
            "attribute")
        })
        // an override relation may carry PRE-EVALUATED fold deltas
        // (`__fd` struct): the live mixed fold's collapsed sum rows
        // have no per-row delta expression to evaluate — their delta
        // IS the accumulated sum
        val preFd = uSel.columns.contains("__fd")
        // an implicit-set writer inside a FOLD mix: its row is a
        // segment RESET — zero delta (so cum − f0 counts every fold
        // delta after it in full; the reset's values ride in __upd)
        val isImp = wFolds.isEmpty && dFolds.nonEmpty
        uSel.select(
          (Seq(keyC(keyOrder.map(c => wKeys.find(_._1 == c).get._2))
              .as("__key"),
            col("__ord"), updC.as("__upd"),
            lit(false).as("__del")) ++
            (if (dFolds.isEmpty) Nil else Seq(struct(dFolds.map {
              case (c, _) =>
                (if (isImp) lit(0)
                 else if (preFd) col(s"__fd.$c")
                 else expr(deltaSql(wFolds.find(_._1 == c).get._2._2)))
                  .cast(dSchema(c).dataType).as(c) }: _*)
              .as("__fd"))) ++
            (if (mixedShapes) Seq(lit(isImp).as("__imp")) else Nil)): _*)
    }
    // TOMBSTONE rows: a delete sweeper's emission wipes the as-of
    // state of its key at its interleaved position — last-wins
    // restarts at the next upsert; accumulator folds restart their
    // running sums (segment-scoped, below)
    val uTagDel = delWI.map { case ((dAst2, dAct2, _, dSrc2), wi) =>
      val dKeys = dAct2 match {
        case DeleteTable(_, on2) => keyEqsOf(on2, tName)
        case _ => Nil
      }
      dAst2.stream match {
        case ss2: SingleStream if ss2.window.nonEmpty =>
          fail("windowed delete sweepers are not per-event " +
            "readable (v1)")
        case _ => ()
      }
      // override hook mirrors uTagUpd: the live mixed fold passes
      // (prior latest tombstone per key ∪ this batch's tombstones)
      val selD = uRelOverride.get(wi) match {
        case Some(rel) => rel
        case None => perEventURel(sp, dir, dAst2, dSrc2, wi, env)._1
      }
      selD
        .select(
          (Seq(keyC(keyOrder.map(c => dKeys.find(_._1 == c).get._2))
            .as("__key"),
          col("__ord"), lit(null).cast(updType).as("__upd"),
          lit(true).as("__del")) ++
          (if (dFolds.isEmpty) Nil
           else Seq(lit(null).cast(fdType).as("__fd"))) ++
          (if (mixedShapes) Seq(lit(false).as("__imp")) else Nil)): _*)
    }
    val uTag = (uTagUpd ++ uTagDel).reduce(_ unionByName _)
    def fdOf(mk: String => Column): Column =
      struct(dFolds.map { case (c, (_, d)) =>
        mk(c).cast(dSchema(c).dataType).as(c) }: _*)
    // accumulated state seeds sort before every batch row
    val accTag = accTable.select(
      (Seq(keyC(keyOrder).as("__key"),
        struct(lit(Long.MinValue).as("ts_ns"),
          lit(Long.MinValue).as("event_id"),
          lit(Long.MinValue).as("w")).as("__ord"),
        updC.as("__upd"), lit(false).as("__del")) ++
        (if (dFolds.isEmpty) Nil
         else Seq(fdOf(_ => lit(0)).as("__fd"))) ++
        (if (mixedShapes) Seq(lit(false).as("__imp")) else Nil)): _*)
    val uAll = uTag.unionByName(accTag)
      .withColumn("__isE", lit(false))
      .withColumn("__evt", lit(null).cast(evtType))
    val eTag = eBase.select(
      (Seq(keyC(keyOrder.map(c => joinKeys.find(_._1 == c).get._2))
          .as("__key"),
        // w = MaxValue: an event sorts after its own same-instant
        // updates from every writer (the __isE sort key preserves
        // this too — belt and braces)
        struct(col("ts_ns"), col("event_id"),
          lit(Long.MaxValue).as("w")).as("__ord"),
        lit(null).cast(updType).as("__upd"),
        lit(false).as("__del")) ++
        (if (dFolds.isEmpty) Nil
         else Seq(lit(null).cast(fdType).as("__fd"))) ++
        (if (mixedShapes) Seq(lit(false).as("__imp")) else Nil) ++
        Seq(lit(true).as("__isE"), evtC.as("__evt"))): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__key")
      .orderBy(col("__ord"), col("__isE"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val filled =
      if (dFolds.isEmpty && delWI.nonEmpty)
        // tombstone-aware last-wins: the latest non-event mark per key
        // is either an update (its row becomes the as-of state) or a
        // tombstone (state absent until the next update)
        uAll.unionByName(eTag)
          .withColumn("__mark",
            last(when(col("__isE"), lit(null))
              .otherwise(struct(col("__upd").as("u"),
                col("__del").as("d"))),
              ignoreNulls = true).over(w))
          .withColumn("__state",
            when(col("__mark").isNull || col("__mark.d"),
              lit(null).cast(updType)).otherwise(col("__mark.u")))
          .where(col("__isE"))
      else if (dFolds.isEmpty)
        uAll.unionByName(eTag)
          .withColumn("__state",
            last(col("__upd"), ignoreNulls = true).over(w))
          .where(col("__isE"))
      else {
        // fold reconstruction: the first update/seed row fixes the
        // non-fold values and the fold base; each later update adds
        // its delta — running sum minus the first row's own delta
        // (an upsert-INSERT's values ride in its row, not its delta).
        // With delete sweepers the fold is SEGMENT-scoped: the
        // cumulative tombstone count keys the fold window, so running
        // sums restart after each sweep and the state rebuilds from
        // the next upsert-INSERT (a tombstone row lands first in its
        // new segment with null upd/deltas — invisible to the fold).
        val foldMap = dFolds.toMap
        val base0 = uAll.unionByName(eTag)
        // segment boundaries: tombstones (state absent until the next
        // upsert) AND — in shape mixes — implicit resets (the reset
        // row opens its own segment carrying its values as st0)
        val segMark: Column =
          if (delWI.nonEmpty && mixedShapes)
            col("__del") || col("__imp")
          else if (mixedShapes) col("__imp")
          else col("__del")
        val (seged, wF) =
          if (delWI.isEmpty && !mixedShapes) (base0, w)
          else (base0.withColumn("__seg",
              sum(when(segMark, lit(1L)).otherwise(lit(0L)))
                .over(w)),
            org.apache.spark.sql.expressions.Window
              .partitionBy("__key", "__seg")
              .orderBy(col("__ord"), col("__isE"))
              .rowsBetween(
                org.apache.spark.sql.expressions.Window
                  .unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow))
        val st0 = seged
          .withColumn("__st0",
            first(col("__upd"), ignoreNulls = true).over(wF))
        val withCums = dFolds.foldLeft(st0) { case (df, (c, _)) =>
          df.withColumn(s"__cum_$c", sum(col(s"__fd.$c")).over(wF))
            .withColumn(s"__f0_$c",
              first(col(s"__fd.$c"), ignoreNulls = true).over(wF))
        }
        val stateC = struct(dSchema.fields.toSeq.map { f =>
          val c = f.name
          (foldMap.get(c) match {
            case Some(("+", _)) => col(s"__st0.$c") +
              (col(s"__cum_$c") - col(s"__f0_$c"))
            case Some((_, _)) => col(s"__st0.$c") -
              (col(s"__cum_$c") - col(s"__f0_$c"))
            case None => col(s"__st0.$c")
          }).cast(f.dataType).as(c)
        }: _*)
        withCums.withColumn("__state",
          when(col("__st0").isNotNull, stateC)
            .otherwise(lit(null).cast(updType)))
          .where(col("__isE"))
      }
    // table-side filter `T[cond]`: a state row failing the condition
    // is NOT an enrichment match at that event — inner drops the
    // event, left outer null-pads it (per-event semantics: the filter
    // applies to the AS-OF state, so an event can match while a later
    // one of the same key doesn't)
    val stateFiltered = tSide.filter match {
      case None => filled
      case Some(f) =>
        val fSql = sqlOfWith(f, {
          case q :: c :: Nil if q.equalsIgnoreCase(tAlias) ||
              q.equalsIgnoreCase(tName) =>
            if (!tCols.contains(c))
              fail(s"'$c' is not a column of table '$tName'")
            s"__state.$c"
          case c :: Nil =>
            if (!tCols.contains(c))
              fail(s"table filter on '$tName' references its columns; " +
                s"'$c' is not one")
            s"__state.$c"
          case parts => fail(s"table filter on '$tName' references " +
            s"its columns; got '${parts.mkString(".")}'")
        })
        filled.withColumn("__state",
          when(col("__state").isNotNull && expr(fSql), col("__state"))
            .otherwise(lit(null).cast(updType)))
    }
    val kept =
      if (joinKind == "inner")
        stateFiltered.where(col("__state").isNotNull)
      else stateFiltered
    def qual(parts: List[String]): String = parts match {
      case q :: c :: Nil
          if q.equalsIgnoreCase(tAlias) || q.equalsIgnoreCase(tName) =>
        if (!tCols.contains(c))
          fail(s"'$c' is not a column of table '$tName'")
        s"__state.$c"
      case q :: c :: Nil
          if q.equalsIgnoreCase(sAlias) || q.equalsIgnoreCase(sName) =>
        s"__evt.$c"
      case c :: Nil =>
        val inT = tCols.contains(c)
        val inS = eBase.columns.contains(c)
        if (inT && inS) fail(s"'$c' is ambiguous — qualify it with " +
          s"'$tAlias.' or '$sAlias.'")
        else if (inT) s"__state.$c"
        else s"__evt.$c"
      case other => fail(s"bad reference ${other.mkString(".")}")
    }
    kept.select(items.map { case (it, a2, _) =>
      expr(sqlOfWith(it.e, qual)).as(a2) }: _*)
  }

  /** INSERT-log (multiset) enrichment (r12): the table is an event
    * LOG — every `insert into` appends an independent row, a keyed
    * `delete` sweeper wipes all rows for its key at its interleaved
    * position, and a read matches EVERY row live for its key at the
    * event's position — one output row per (event, live row), the
    * Siddhi cart pattern (`insert into Cart` + `delete Cart on …` +
    * `join Cart`).
    *
    * Reconstruction: inserts, tombstones, accumulated seeds and
    * events union into one keyed relation; a running tombstone count
    * per key assigns every row a SEGMENT — a tombstone kills every
    * earlier row of its key, so liveness is exactly "same segment,
    * strictly earlier position". Events then EQUI-join the live
    * inserts on (key, segment) with the strict-order residual — a
    * shuffle hash join on the composite key plus one keyed window
    * pass, never a cross join or per-event loop. Chunking-invariant:
    * the live fold seeds `accTable` at ord −∞ / segment 0, so a prior
    * generation's rows stay visible exactly until the batch's first
    * tombstone for their key — the same rule [[applyDmlMulti]] uses
    * to maintain the log itself, which is why the batch replay is
    * the live gate's truth. */
  private def enrichLogCompile(sp: SparkSession, dir: String, ast: Ast,
      j: JoinStream, winfos: List[DmlWriter],
      accTable: DataFrame, env: Map[String, DataFrame],
      emisOverride: Map[Int, DataFrame] = Map.empty): DataFrame = {
    val dSchema = winfos.head._3
    val tSide = j.right; val sSide = j.left
    val tName = tSide.table
    val sName = sSide.table
    val tAlias = j.rightAlias.getOrElse(tName)
    val sAlias = j.leftAlias.getOrElse(sName)
    val (delWI, updWI0) = winfos.zipWithIndex
      .partition(_._1._2.isInstanceOf[DeleteTable])
    val (upsWI, insWI) = updWI0
      .partition(_._1._2.isInstanceOf[UpsertTable])
    val joinKind = j.joinType match {
      case "inner" | "left_outer" => j.joinType
      case other => fail("enrichment joins are inner or left outer " +
        "(RECORDED DECISION, r13): the table is PASSIVE — only stream " +
        "events trigger emissions, so a right/full outer's unmatched " +
        "TABLE rows have no triggering event and would never emit; " +
        "for an end-of-replay snapshot of unmatched table rows use an " +
        s"on-demand store query instead — got '$other'")
    }
    val joinKeys = keyEqsOf(j.on, tName, {
      case q :: c :: Nil
          if q.equalsIgnoreCase(sAlias) || q.equalsIgnoreCase(sName) =>
        c
      case parts => parts.mkString(".")
    })
    val keyOrder = joinKeys.map(_._1).distinct.sorted
    val tCols = dSchema.fieldNames.toSet
    keyOrder.foreach(kc => if (!tCols.contains(kc))
      fail(s"'$kc' is not a column of table '$tName'"))
    delWI.foreach { case ((dAst2, dAct2, _, _), _) =>
      dAst2.stream match {
        case ss2: SingleStream if ss2.window.nonEmpty =>
          fail("windowed delete sweepers are not per-event readable " +
            "(v1)")
        case _ => ()
      }
      val dk = dAct2 match {
        case DeleteTable(_, on2) => keyEqsOf(on2, tName)
        case _ => Nil
      }
      if (dk.map(_._1).distinct.sorted != keyOrder)
        fail(s"event-log enrichment sweepers on '$tName' (v1) must " +
          s"delete on the JOIN key columns " +
          s"(${keyOrder.mkString(", ")})")
    }
    // WINDOWED members (r15): a timeBatch writer's flush rows ARE
    // log emissions at their bucket END — an insert flush appends
    // one row per (bucket × group) with origin = the bucket end, an
    // upsert flush overlays its key there. The r14 "flush rows have
    // no per-row origin" bound was conservative: a flush's origin is
    // exactly its visibility instant.
    def winTOf(ast2: Ast, form: String): Option[Long] =
      ast2.stream match {
        case ss2: SingleStream => ss2.window match {
          case Some(w2 @ TimeBatch(t2, _)) =>
            requireEpochTb(w2, s"windowed event-log $form writers")
            Some(t2)
          case Some(w2) => fail(s"windowed event-log $form writers " +
            s"on '$tName' take #window.timeBatch(T) (v1); " +
            s"'#window.${w2.name}' flush emissions have no " +
            "visibility instant")
          case None => None
        }
        case _ => None
      }
    // IMPLICIT-SET (r13) or ACCUMULATOR-FOLD (r14) upserts in the log
    // group: keyed on the join key columns; the routing in
    // enrichCompile already rejected general expr-set shapes
    upsWI.foreach { case ((uAst, uAct, _, _), _) =>
      val uk = uAct match {
        case UpsertTable(_, _, on2) => keyEqsOf(on2, tName)
        case _ => Nil
      }
      if (uk.map(_._1).distinct.sorted != keyOrder)
        fail(s"event-log upsert writers on '$tName' (v1) must key " +
          s"on the JOIN key columns (${keyOrder.mkString(", ")})")
    }
    // fold mode: every upsert writer carries full accumulator-fold
    // specs (identical column → op); implicit mode = empty
    val upsFolds: List[(String, String)] = {
      val specs = upsWI.map { case ((_, uAct, _, _), _) =>
        uAct match {
          case UpsertTable(_, set, _) => set.flatMap { case (c, e) =>
            foldSetOf(tName, c, e).map { case (op, _) => c -> op } }
          case _ => Nil
        }
      }
      if (specs.forall(_.isEmpty)) Nil
      else {
        if (specs.map(_.toMap).distinct.length != 1)
          fail(s"event-log fold-upsert writers on '$tName' (v1) must " +
            "fold the SAME columns with the same operators")
        specs.head.sortBy(_._1)
      }
    }
    val foldMode = upsFolds.nonEmpty
    // non-upsert branches of the segment union carry null deltas
    def nullFds: Seq[Column] = upsFolds.map { case (c, _) =>
      lit(null).cast(dSchema(c).dataType).as(s"__fd_$c") }
    // table-side filter + upsert writers (r14, closing the r13 bound):
    // the filter applies to each pair's OVERLAID as-of values (per
    // event, not per stored row), so it cannot prune `live0` — it
    // moves INTO the join condition below, evaluated on the overlay
    // expression, where the outer-join pad machinery then treats a
    // failing overlaid row exactly as a non-match (pads when no row
    // survives). sqlOfWith enforces table-columns-only either way.
    val items = itemsOf(ast)
    val eBase0 = loadTable(sp, dir, sName, env)
    val eBase = sSide.filter.fold(eBase0)(f =>
      applyFilter(sp, dir, eBase0, f, env))
    Seq("ts_ns", "event_id").foreach(c =>
      if (!eBase.columns.contains(c))
        fail(s"live enrichment joins need '$c' on the stream side; " +
          s"'$sName' lost it — select it through"))
    val updC = struct(dSchema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val updType = StructType(dSchema.fields)
    val evtC = struct(eBase.columns.toSeq.map(col): _*)
    val evtType = StructType(eBase.schema.fields)
    def keyC(exprs: Seq[String]): Column =
      struct(keyOrder.zip(exprs).map { case (kc, ex) =>
        expr(ex).cast(dSchema(kc).dataType).as(s"__k_$kc") }: _*)
    // per-writer emission rows + replay ord: per-event writers emit
    // one row per event at (ts_ns, event_id, statement); windowed
    // writers emit their FLUSH rows at (bucket end, 0, statement)
    def emisSel(wAst: Ast, wAct: Action, wSrc: String, wi: Int)
        : (DataFrame, Seq[String]) =
      emisOverride.get(wi) match {
        case Some(rel) =>
          (rel, rel.columns.filterNot(_ == "__ord").toList)
        case None => emisSelDerived(wAst, wAct, wSrc, wi)
      }
    def emisSelDerived(wAst: Ast, wAct: Action, wSrc: String, wi: Int)
        : (DataFrame, Seq[String]) =
      winTOf(wAst, wAct.getClass.getSimpleName) match {
        case Some(t2) =>
          val (sel0, outCols0) =
            dmlEmissions(sp, dir, wAst, wAct, dSchema, env)
          (sel0.withColumn("__ord", struct(
            (col("__g_ord.ts_ns") + lit(t2)).as("ts_ns"),
            col("__g_ord.event_id"),
            lit(wi.toLong).as("w"))).drop("__g_ord"), outCols0)
        case None => perEventURel(sp, dir, wAst, wSrc, wi, env)
      }
    // insert rows: the row's key VALUES are its own key-column outputs
    val insRows = insWI.map { case ((iAst, iAct, _, iSrc), wi) =>
      val (sel, outCols) = emisSel(iAst, iAct, iSrc, wi)
      dSchema.fieldNames.foreach(c => if (!outCols.contains(c))
        fail(s"insert into $tName: select output must cover every " +
          s"table column (missing: $c)"))
      sel.select(Seq(keyC(keyOrder).as("__key"), col("__ord"),
          updC.as("__upd"), lit(false).as("__del"),
          lit(false).as("__ups")) ++ nullFds: _*)
    }
    // implicit-set upsert rows (r13): key VALUES from the on-clause
    // RHS, full row values from the select outputs -- an upsert both
    // OVERLAYS every live row of its key (the running-last window
    // below) and becomes an ORIGIN row itself when it is the first
    // surviving emission of its (key, segment)
    val upsRows = upsWI.map { case ((uAst, uAct, _, uSrc), wi) =>
      val uKeys = uAct match {
        case UpsertTable(_, _, on2) => keyEqsOf(on2, tName)
        case _ => Nil
      }
      val (sel, outCols) = emisSel(uAst, uAct, uSrc, wi)
      dSchema.fieldNames.foreach(c => if (!outCols.contains(c))
        fail(s"update or insert into $tName: select output must " +
          s"cover every table column (missing: $c)"))
      // fold mode: each upsert emission also carries its SIGNED delta
      // per fold column (`T.c - e` subtracts), referencing its own
      // select outputs — the store path's exact rule (flush emissions
      // reference their flush outputs the same way)
      val uDeltas: Map[String, Expr] = uAct match {
        case UpsertTable(_, set, _) => set.flatMap { case (c, e) =>
          foldSetOf(tName, c, e).map { case (_, d) => c -> d } }.toMap
        case _ => Map.empty
      }
      def streamSql(e: Expr): String = sqlOfWith(e, {
        case c :: Nil if outCols.contains(c) => c
        case parts => fail(s"fold delta reference " +
          s"'${parts.mkString(".")}' is not a select output attribute")
      })
      sel.select(Seq(
          keyC(keyOrder.map(c => uKeys.find(_._1 == c).get._2))
            .as("__key"),
          col("__ord"), updC.as("__upd"), lit(false).as("__del"),
          lit(true).as("__ups")) ++
          upsFolds.map { case (c, op) =>
            (if (op == "-") -expr(streamSql(uDeltas(c)))
             else expr(streamSql(uDeltas(c))))
              .cast(dSchema(c).dataType).as(s"__fd_$c") }: _*)
    }
    val delRows = delWI.map { case ((dAst2, dAct2, _, dSrc2), wi) =>
      val dKeys = dAct2 match {
        case DeleteTable(_, on2) => keyEqsOf(on2, tName)
        case _ => Nil
      }
      val sel = emisOverride.get(wi) match {
        case Some(rel) => rel
        case None => perEventURel(sp, dir, dAst2, dSrc2, wi, env)._1
      }
      sel.select(Seq(
          keyC(keyOrder.map(c => dKeys.find(_._1 == c).get._2))
            .as("__key"),
          col("__ord"), lit(null).cast(updType).as("__upd"),
          lit(true).as("__del"), lit(false).as("__ups")) ++
          nullFds: _*)
    }
    // accumulated generation rows seed at ord −∞ (segment 0)
    val accTag = accTable.select(Seq(keyC(keyOrder).as("__key"),
      struct(lit(Long.MinValue).as("ts_ns"),
        lit(Long.MinValue).as("event_id"),
        lit(Long.MinValue).as("w")).as("__ord"),
      updC.as("__upd"), lit(false).as("__del"),
      lit(false).as("__ups")) ++ nullFds: _*)
    val uAll = (insRows ++ upsRows ++ delRows :+ accTag)
      .reduce(_ unionByName _)
      .withColumn("__isE", lit(false))
      .withColumn("__evt", lit(null).cast(evtType))
    val eTag = eBase.select(Seq(
      keyC(keyOrder.map(c => joinKeys.find(_._1 == c).get._2))
        .as("__key"),
      struct(col("ts_ns"), col("event_id"),
        lit(Long.MaxValue).as("w")).as("__ord"),
      lit(null).cast(updType).as("__upd"), lit(false).as("__del"),
      lit(false).as("__ups"), lit(true).as("__isE"),
      evtC.as("__evt")) ++ nullFds: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__key")
      .orderBy(col("__ord"), col("__isE"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // a tombstone opens a NEW segment (its running count includes
    // itself), so "live at the event" ≡ same key, same segment,
    // strictly earlier ord
    val seged0 = uAll.unionByName(eTag).withColumn("__seg",
      sum(when(col("__del"), lit(1L)).otherwise(lit(0L))).over(w))
    // upsert overlay machinery (only when upsert writers exist):
    // __minE = the (key, segment) first surviving-emission ord --
    // an upsert at that ord is an ORIGIN (it inserted into an empty
    // key); __lu = the last upsert at-or-before each row within its
    // (key, segment), which an EVENT reads as the last upsert at
    // its own position and applies to any origin older than it
    val seged =
      if (upsWI.isEmpty) seged0
      else {
        val wSeg = org.apache.spark.sql.expressions.Window
          .partitionBy("__key", "__seg")
        val wF = org.apache.spark.sql.expressions.Window
          .partitionBy("__key", "__seg")
          .orderBy(col("__ord"), col("__isE"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window
              .unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val withMin = seged0.withColumn("__minE",
          min(when(!col("__isE") && !col("__del"), col("__ord")))
            .over(wSeg))
        if (!foldMode)
          withMin.withColumn("__lu",
            last(when(col("__ups"), struct(col("__ord").as("o"),
                col("__upd").as("v"))),
              ignoreNulls = true).over(wF))
        else
          // fold mode (r14): per fold column, the running sum of
          // DELTA upserts (an upsert at __minE inserted into an empty
          // key — it is an origin, not a delta) at-or-before each row
          // within its (key, segment). A pair (row, event) then reads
          // adjustment = S(event) − S(row): exactly the deltas that
          // landed after the row and at-or-before the event.
          upsFolds.foldLeft(withMin) { case (df, (c, _)) =>
            df.withColumn(s"__S_$c",
              sum(when(col("__ups") && col("__ord") =!= col("__minE"),
                col(s"__fd_$c"))).over(wF))
          }
      }
    val evts = seged.where(col("__isE"))
      .select(Seq(col("__key").as("__ek"), col("__seg").as("__es"),
        col("__ord").as("__eo"), col("__evt")) ++
        (if (upsWI.isEmpty) Nil
         else if (foldMode) upsFolds.map { case (c, _) =>
           col(s"__S_$c").as(s"__se_$c") }
         else Seq(col("__lu"))): _*)
    val live0 = seged
      .where(!col("__isE") && !col("__del") &&
        (if (upsWI.isEmpty) lit(true)
         else !col("__ups") || col("__ord") === col("__minE")))
      .select(Seq(col("__key").as("__lk"), col("__seg").as("__ls"),
        col("__ord").as("__lo"), col("__upd").as("__state")) ++
        (if (foldMode) upsFolds.map { case (c, _) =>
          col(s"__S_$c").as(s"__so_$c") } else Nil): _*)
    // table-side filter `T[cond]`: a log row failing it is not a
    // match (inner drops, left outer pads when NO row matches). The
    // filter tests what the EVENT reads: the stored row without
    // upsert writers, the overlaid value with them — so it prunes
    // `live0` directly in the first case and rides the join
    // condition (over the overlay expression) in the second.
    def tFilterSql(f: Expr, sub: String => String): String =
      sqlOfWith(f, {
        case q :: c :: Nil if q.equalsIgnoreCase(tAlias) ||
            q.equalsIgnoreCase(tName) =>
          if (!tCols.contains(c))
            fail(s"'$c' is not a column of table '$tName'")
          sub(c)
        case c :: Nil =>
          if (!tCols.contains(c))
            fail(s"table filter on '$tName' references its " +
              s"columns; '$c' is not one")
          sub(c)
        case parts => fail(s"table filter on '$tName' references " +
          s"its columns; got '${parts.mkString(".")}'")
      })
    val live = tSide.filter match {
      case Some(f) if upsWI.isEmpty =>
        live0.where(expr(tFilterSql(f, c => s"__state.$c")))
      case _ => live0
    }
    val foldColSet = upsFolds.map(_._1).toSet
    def foldAdjSql(c: String): String =
      if (!foldColSet.contains(c)) s"__state.$c"
      else s"(__state.$c + (coalesce(__se_$c, 0) " +
        s"- coalesce(__so_$c, 0)))"
    val ovlFilter: Column = tSide.filter match {
      case Some(f) if upsWI.nonEmpty && !foldMode =>
        // the overlay expression, inline (the joined `__state`
        // rewrite below is the same rule): an origin older than the
        // event's last upsert reads the upsert's values
        val ovl = "(CASE WHEN __lu IS NOT NULL AND __lu.o > __lo " +
          "THEN __lu.v ELSE __state END)"
        expr(tFilterSql(f, c => s"$ovl.$c"))
      case Some(f) if foldMode =>
        // fold mode: the filter tests the SUM-ADJUSTED value the
        // event reads (same join-condition placement, same pad rule)
        expr(tFilterSql(f, foldAdjSql))
      case _ => lit(true)
    }
    val joined0 = evts.join(live,
      col("__ek") === col("__lk") && col("__es") === col("__ls") &&
        col("__lo") < col("__eo") && ovlFilter, joinKind)
    // overlay: an origin older than the event last-upsert position
    // takes the upsert values (the implicit set is last-writer-wins,
    // so intermediate upserts are fully overwritten); a left-outer
    // pad (null __lo) falls through to its null state
    val joined =
      if (upsWI.isEmpty) joined0
      else if (foldMode)
        // fold overlay: each pair's fold columns take the row value +
        // (deltas after the row, at-or-before the event); a left-outer
        // pad (null __lo) keeps its null state
        joined0.withColumn("__state",
          when(col("__lo").isNull, col("__state"))
            .otherwise(struct(dSchema.fields.toSeq.map { f =>
              (if (foldColSet.contains(f.name))
                 expr(foldAdjSql(f.name)).cast(f.dataType)
               else col(s"__state.${f.name}")).as(f.name)
            }: _*)))
      else joined0.withColumn("__state",
        when(col("__lu").isNotNull && col("__lu.o") > col("__lo"),
          col("__lu.v")).otherwise(col("__state")))
    def qual(parts: List[String]): String = parts match {
      case q :: c :: Nil
          if q.equalsIgnoreCase(tAlias) || q.equalsIgnoreCase(tName) =>
        if (!tCols.contains(c))
          fail(s"'$c' is not a column of table '$tName'")
        s"__state.$c"
      case q :: c :: Nil
          if q.equalsIgnoreCase(sAlias) || q.equalsIgnoreCase(sName) =>
        s"__evt.$c"
      case c :: Nil =>
        val inT = tCols.contains(c)
        val inS = eBase.columns.contains(c)
        if (inT && inS) fail(s"'$c' is ambiguous — qualify it with " +
          s"'$tAlias.' or '$sAlias.'")
        else if (inT) s"__state.$c"
        else s"__evt.$c"
      case other => fail(s"bad reference ${other.mkString(".")}")
    }
    joined.select(items.map { case (it, a2, _) =>
      expr(sqlOfWith(it.e, qual)).as(a2) }: _*)
  }

  /** Does `e` reference a column of table `t` (qualified)? */
  private[api] def refsTable(e: Expr, t: String): Boolean = e match {
    case Ref(q :: _ :: Nil) => q.equalsIgnoreCase(t)
    case Bin(_, l, r) => refsTable(l, t) || refsTable(r, t)
    case Not(x) => refsTable(x, t)
    case Neg(x) => refsTable(x, t)
    case Call(_, _, as) => as.exists(refsTable(_, t))
    case _ => false
  }

  /** Accumulator-fold set form: `set T.c = T.c + e` (or `e + T.c`, or
    * `T.c - e`) with `e` over stream attributes only → Some((op, e)).
    * These folds ARE batch-replay collapsible because per-key they
    * compose additively: final = prior ± Σ per-event deltas — one
    * keyed aggregate, no per-event loop, the same algebra the grain
    * cascade rides. Anything else (cross-column, multiplicative,
    * conditional on the table) is order-dependent and stays refused. */
  private[api] def foldSetOf(t: String, c: String, rhs: Expr)
      : Option[(String, Expr)] = {
    def self(e: Expr): Boolean = e match {
      case Ref(q :: c2 :: Nil) =>
        q.equalsIgnoreCase(t) && c2.equalsIgnoreCase(c)
      case _ => false
    }
    rhs match {
      case Bin("+", l, r) if self(l) && !refsTable(r, t) => Some(("+", r))
      case Bin("+", l, r) if self(r) && !refsTable(l, t) => Some(("+", l))
      case Bin("-", l, r) if self(l) && !refsTable(r, t) => Some(("-", r))
      case _ => None
    }
  }

  private[api] def applyDml(spark: SparkSession, dir: String, ast: Ast,
      act: Action, schema: StructType, table: DataFrame,
      env: Map[String, DataFrame]): DataFrame = {
    val (sel, outCols) = dmlEmissions(spark, dir, ast, act, schema, env)
    applyEmissions(act, schema, table, sel, outCols)
  }

  /** The emission relation of ONE DML statement — the select output
    * attributes plus the `__g_ord` replay-order struct (one row per
    * event for plain DML, one per window-flush × group for the
    * aggregating timeBatch form) — and its output column names.
    * [[applyDml]] = this + [[applyEmissions]]; [[applyDmlMulti]]
    * normalizes several statements' emissions into one merge. */
  private[api] def dmlEmissions(spark: SparkSession, dir: String,
      ast: Ast, act: Action, schema: StructType,
      env: Map[String, DataFrame]): (DataFrame, Seq[String]) = {
    val s = ast.stream match {
      case ss: SingleStream => ss
      case _ => fail("table DML (v1) requires a single un-joined source " +
        "stream")
    }
    if (ast.having.nonEmpty || ast.orderBy.nonEmpty || ast.limit.nonEmpty ||
        ast.offset.nonEmpty || ast.rate.nonEmpty)
      fail("table DML (v1) has no having/order/limit/output rate — the " +
        "table is keyed state, not a result stream")
    val base0 = loadTable(spark, dir, s.table, env)
    if (!base0.columns.contains("ts_ns") ||
        !base0.columns.contains("event_id"))
      fail(s"table DML needs 'ts_ns' and 'event_id' on '${s.table}' to " +
        "define replay order")
    val base =
      s.filter.fold(base0)(f => applyFilter(spark, dir, base0, f, env))
    val items = itemsOf(expandStar(ast, base0.columns))
    val outCols = items.map(_._2)
    // Emission rows in replay order: one row per EVENT for the plain
    // form, one row per WINDOW-FLUSH × group for the aggregating
    // timeBatch form (Siddhi's canonical store pattern: windowed
    // aggregate → `update or insert into T`). Everything downstream —
    // merge, accumulator folds, delete — is emission-order algebra, so
    // the two forms share it via `__g_ord`.
    val sel: DataFrame = s.window match {
      case None =>
        if (ast.groupBy.nonEmpty)
          fail("group by in table DML needs a batch window " +
            "(#window.timeBatch(T)) to define flush emissions")
        items.foreach { case (_, a, isAgg) =>
          if (isAgg) fail(s"aggregating table DML ('$a') needs a batch " +
            "window (#window.timeBatch(T)) to define flush emissions")
        }
        base.select(items.map { case (it, a, _) =>
          expr(sqlOf(it.e)).as(a)
        } :+ struct(col("ts_ns"), col("event_id")).as("__g_ord"): _*)
      case Some(wtb @ TimeBatch(tNs, _)) =>
        requireEpochTb(wtb, "table DML writer windows")
        items.foreach { case (it, a, isAgg) =>
          if (!isAgg) it.e match {
            case Ref(c :: Nil)
                if ast.groupBy.exists(_.equalsIgnoreCase(c)) => ()
            case e if !refsAttr(e) => () // constant: evaluates per flush
            case _ => fail("windowed table DML: non-aggregate select " +
              s"item '$a' must be a group-by attribute or a constant")
          }
        }
        val aggItems = items.collect { case (it, a, true) =>
          expr(sqlOf(it.e)).as(a) }
        if (aggItems.isEmpty)
          fail("windowed table DML needs at least one aggregate select " +
            "item (drop the window for per-event DML)")
        val flush = base
          .withColumn("__bucket", expr(s"ts_ns div ${tNs}L"))
          .groupBy(col("__bucket") +: ast.groupBy.map(col): _*)
          .agg(aggItems.head, aggItems.tail: _*)
        // flushes emit in bucket order; within one flush each group
        // emits exactly once, so (bucket start, 0) totally orders the
        // emissions any one merge key sees
        flush.select(items.map { case (it, a, isAgg) =>
          (if (isAgg) col(a) else expr(sqlOf(it.e))).as(a)
        } :+ struct((col("__bucket") * lit(tNs)).cast("long").as("ts_ns"),
          lit(0L).as("event_id")).as("__g_ord"): _*)
      case Some(w) =>
        fail("table DML windows (v1): #window.timeBatch(T) only — " +
          s"'#window.${w.name}' emissions are not batch-replay " +
          "collapsible here")
    }
    (sel, outCols)
  }

  /** Merge SEVERAL DML statements targeting one table, in Siddhi's
    * per-event interleaved order: each writer's emission relation is
    * normalized — merge keys and accumulator deltas pre-evaluated,
    * table columns cast, `__g_ord` extended with the statement index
    * as the tiebreak (an event flowing through two writers applies
    * their updates in statement order) — then the UNION feeds one
    * [[applyEmissions]] merge with a synthesized action, so the
    * multi-writer algebra IS the single-writer algebra over the
    * interleaved emission sequence. v1 shapes (the order-composable
    * ones): all writers `insert into`, all implicit-set
    * `update or insert`, or all accumulator-fold `update or insert`
    * with identical column→op specs; the writers must key on the
    * same table columns. Anything else is diagnosed. */
  /** Shape classification of one table's writer group: "insert" /
    * "upsert" (implicit set) / "fold" (all-accumulator set) /
    * "upsert-expr" / "update" / "delete", distinct. */
  private[api] def dmlKinds(writers: List[DmlWriter]): List[String] = {
    val t = writers.head._2.target
    writers.map(_._2).map {
      case _: InsertInto => "insert"
      case UpsertTable(_, set, _) =>
        if (set.isEmpty) "upsert"
        else if (set.forall { case (c, e) => foldSetOf(t, c, e).nonEmpty })
          "fold"
        else "upsert-expr"
      case _: UpdateTable => "update"
      case _: DeleteTable => "delete"
    }.distinct
  }

  /** Is a writer group ORDER-COMPOSABLE for the interleaved
    * multi-writer merge? Composable shapes:
    *   - one shared non-delete shape: all insert-into, all
    *     implicit-set upserts, or all accumulator-fold upserts;
    *   - upsert/fold/insert writers PLUS keyed `delete` sweepers on
    *     the SAME table key columns (or all-delete): a delete is a
    *     TOMBSTONE emission in the interleaved (ts, event_id,
    *     statement) order — the last tombstone per key wipes
    *     everything before it, later upserts/inserts re-insert,
    *     exactly Siddhi's per-event replay (an insert row carries its
    *     key VALUES in its own columns, so it dies under a later
    *     tombstone matching them);
    *   - insert + IMPLICIT-SET upsert mixes (r13, ± sweepers): the
    *     table is a keyed MULTISET; an upsert replaces every live row
    *     of its key with the event's values (inserting one iff the
    *     key is empty at its position), so the final value of an
    *     origin row depends only on (its own values, the LAST later
    *     upsert for its key) — key-algebraic, one keyed window pass.
    *     The multiset row COUNT is preserved by upserts and grown by
    *     inserts/first-in-segment upserts, exactly Siddhi's
    *     update-or-insert over duplicate rows;
    *   - still NOT composable — genuinely, not as deferral:
    *     insert+EXPR-set (fold) upsert mixes (the fold delta applies
    *     per matching row, so the replay must carry every row's
    *     values through every intermediate upsert — row-level, where
    *     the implicit set is last-writer-wins and needs only the
    *     final upsert), update/upsert-expr shapes (their set RHS
    *     reads the table), and mixed key columns (a writer keyed on
    *     column A updates rows another writer maintains under key B
    *     whenever the A values collide — reconstructing that needs
    *     each row's column values AT the other writer's emission
    *     time, a row-level temporal replay) — those keep the batch
    *     statement-sequential replay and refuse live. */
  private[api] def dmlComposable(writers: List[DmlWriter]): Boolean = {
    val t = writers.head._2.target
    val (delW, updW) =
      writers.partition(_._2.isInstanceOf[DeleteTable])
    val updOk = updW.isEmpty || {
      val kinds = dmlKinds(updW).toSet
      kinds == Set("insert") || kinds == Set("upsert") ||
        kinds == Set("fold") || kinds == Set("insert", "upsert") ||
        kinds == Set("insert", "fold") ||
        // SHAPE MIX (r15): implicit-set + accumulator-fold upserts on
        // one keyed table — an implicit upsert RESETS the row, later
        // folds add to it, so the final value is (last reset value OR
        // the first fold upsert's insert values) + Σ later deltas —
        // key-algebraic, one keyed window pass
        kinds == Set("upsert", "fold")
    }
    if (delW.isEmpty) updW.nonEmpty && updOk
    else {
      val keySets = writers.map(_._2).collect {
        case UpsertTable(_, _, on) =>
          keyEqsOf(on, t).map(_._1).distinct.sorted
        case DeleteTable(_, on) =>
          keyEqsOf(on, t).map(_._1).distinct.sorted
      }
      updOk && keySets.distinct.length == 1
    }
  }

  private[api] def applyDmlMulti(spark: SparkSession, dir: String,
      writers: List[DmlWriter], schema: StructType, table: DataFrame,
      env: Map[String, DataFrame]): DataFrame = {
    if (writers.length == 1) {
      val (ast, act, _, _) = writers.head
      return applyDml(spark, dir, ast, act, schema, table, env)
    }
    val t = writers.head._2.target
    if (!dmlComposable(writers))
      fail(s"multi-writer table '$t' (v1) needs an ORDER-COMPOSABLE " +
        "writer group — all `insert into`, all implicit-set `update " +
        "or insert`, all accumulator-fold `update or insert` with " +
        "identical folds, insert + implicit-set upsert, insert + " +
        "accumulator-fold upsert multiset groups, implicit-set + " +
        "accumulator-fold upsert keyed groups, or any of those " +
        "plus keyed `delete` sweepers on the same key columns; " +
        "general update/upsert-expr shapes and mixed-key groups are " +
        "row-level replays (see dmlComposable) — got " +
        s"[${dmlKinds(writers).mkString(", ")}]")
    // per-writer emissions, __g_ord extended with the statement index
    val emissions = writers.zipWithIndex.map { case ((ast, act, _, _), i) =>
      val (sel, outCols) = dmlEmissions(spark, dir, ast, act, schema, env)
      (sel.withColumn("__g_ord", struct(col("__g_ord.ts_ns"),
        col("__g_ord.event_id"), lit(i.toLong).as("w"))), outCols, act)
    }
    mergeEmissions(writers, schema, table, emissions)
  }

  /** The multi-writer MERGE over pre-computed emission relations —
    * [[applyDmlMulti]]'s tail, factored out so the LIVE all-windowed
    * multi-writer fold ([[SiddhiQlLive.multiWindowedDmlFold]]) can
    * feed it flush emissions reconstructed from cross-trigger
    * partials: live ≡ batch by SHARED code, not re-implementation.
    * Each emission triple is (rows carrying the table's output
    * attributes + a 3-field `__g_ord` (ts_ns, event_id, statement
    * index w), output column names, the writer's action); `writers`
    * supplies the actions/keys in statement order. */
  private[api] def mergeEmissions(writers: List[DmlWriter],
      schema: StructType, table: DataFrame,
      emissions: List[(DataFrame, Seq[String], Action)]): DataFrame = {
    val t = writers.head._2.target
    val (delWI, updWI) = writers.zipWithIndex
      .partition(_._1._2.isInstanceOf[DeleteTable])
    val updW = updWI.map(_._1)
    val kindSet: Set[String] =
      if (updW.isEmpty) Set("delete") else dmlKinds(updW).toSet
    val kind = if (updW.isEmpty) "delete" else dmlKinds(updW).head
    def insertRowsOf(idxs: List[Int]): DataFrame =
      idxs.map(emissions).map { case (sel, outCols, _) =>
        schema.fieldNames.foreach(c =>
          if (!outCols.contains(c))
            fail(s"insert into $t: select output must cover every " +
              s"table column (missing: $c)"))
        sel.select(schema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)) :+ col("__g_ord"): _*)
      }.reduce(_ unionByName _)
    if (kindSet == Set("insert") && delWI.isEmpty) {
      return applyEmissions(InsertInto(t), schema, table,
        insertRowsOf(emissions.indices.toList), schema.fieldNames.toSeq)
    }
    // keyed forms (upsert/fold/delete — and insert+delete, where the
    // key columns come from the sweepers alone): every KEYED writer
    // shares the same key columns; insert writers carry their key
    // values in their own output columns
    val keyColsPer = writers.flatMap { case (_, act2, _, _) =>
      act2 match {
        case UpsertTable(_, _, on) => List(keyEqsOf(on, t))
        case DeleteTable(_, on)    => List(keyEqsOf(on, t))
        case _ => Nil // insert writers are unkeyed
      }
    }
    val keyOrder = keyColsPer.head.map(_._1).distinct.sorted
    keyColsPer.foreach { ks =>
      if (ks.map(_._1).distinct.sorted != keyOrder)
        fail(s"multi-writer table '$t' (v1): every writer must key on " +
          s"the same table columns (${keyOrder.mkString(", ")})")
    }
    // TOMBSTONES: a delete writer's emission wipes its key at its
    // interleaved position — per key only the LAST tombstone matters
    // (everything at or before it is gone; later upserts re-insert),
    // which is exactly Siddhi's per-event statement-order replay. One
    // keyed aggregation (max __g_ord per key), no per-event state.
    val dm: Option[DataFrame] = if (delWI.isEmpty) None else Some {
      delWI.map { case ((_, act2, _, _), i) =>
        val (sel, _, _) = emissions(i)
        val keys = act2 match {
          case DeleteTable(_, on) => keyEqsOf(on, t)
          case _ => Nil
        }
        sel.select(keyOrder.zipWithIndex.map { case (kc, j) =>
          expr(keys.find(_._1 == kc).get._2)
            .cast(schema(kc).dataType).as(s"__dk$j")
        } :+ col("__g_ord"): _*)
      }.reduce(_ unionByName _)
        .groupBy(keyOrder.indices.map(j => col(s"__dk$j")): _*)
        .agg(max(col("__g_ord")).as("__dord"))
    }
    // a table row (initial state precedes every emission) dies under
    // ANY tombstone for its key; only post-tombstone upserts revive
    // it. NULL-SAFE key match (<=>): the same-batch reconstructions
    // below (window partitioning / the <=> insert-tombstone join)
    // treat null keys as equal, so the prior-generation wipe must
    // too — with === a null-keyed row would die under a same-batch
    // tombstone but survive one arriving a micro-batch later
    // (chunking-variant).
    val tableLive = dm.fold(table) { d =>
      val dmk = d.select(keyOrder.indices.map(j => col(s"__dk$j")): _*)
      val cond = keyOrder.zipWithIndex.map { case (kc, j) =>
        table(kc) <=> dmk(s"__dk$j") }.reduce(_ && _)
      table.join(dmk, cond, "left_anti")
    }
    if (kindSet == Set("insert", "upsert")) {
      // INSERT + IMPLICIT-SET UPSERT (r13, ± sweepers): the table is
      // a keyed MULTISET. An upsert replaces EVERY live row of its
      // key with the event's values and inserts one row iff the key
      // is empty at its position (= it is the first surviving
      // emission of its key segment). Final state needs only (a)
      // each ORIGIN row — seed / insert / first-emission upsert —
      // surviving the last tombstone, and (b) the LAST upsert per
      // key: any origin older than it takes its values; intermediate
      // upserts are fully overwritten (the implicit set is
      // last-writer-wins, which is what makes this key-algebraic
      // where the expr-set fold mix is genuinely row-level). One
      // keyed window pass; null keys group together (the window /
      // <=> convention of the other multiset paths).
      val insIdx = updWI
        .filter(_._1._2.isInstanceOf[InsertInto]).map(_._2)
      val upsWI = updWI.filter(_._1._2.isInstanceOf[UpsertTable])
      val upsRows = upsWI.map { case ((_, act2, _, _), i) =>
        val (sel, outCols, _) = emissions(i)
        schema.fieldNames.foreach(c =>
          if (!outCols.contains(c))
            fail(s"update or insert into $t: select output must " +
              s"cover every table column (missing: $c)"))
        val keys = act2 match {
          case UpsertTable(_, _, on) => keyEqsOf(on, t)
          case _ => Nil
        }
        sel.select(keyOrder.zipWithIndex.map { case (kc, j) =>
          expr(keys.find(_._1 == kc).get._2)
            .cast(schema(kc).dataType).as(s"__mk$j") } ++
          schema.fields.toSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)) ++
          Seq(col("__g_ord"), lit(true).as("__ups")): _*)
      }.reduce(_ unionByName _)
      val insRows = insertRowsOf(insIdx).select(
        keyOrder.zipWithIndex.map { case (kc, j) =>
          col(kc).cast(schema(kc).dataType).as(s"__mk$j") } ++
        schema.fieldNames.toSeq.map(col) ++
        Seq(col("__g_ord"), lit(false).as("__ups")): _*)
      def liveOf(df: DataFrame): DataFrame = dm.fold(df) { d =>
        val cond = keyOrder.indices.map(j =>
          df(s"__mk$j") <=> d(s"__dk$j")).reduce(_ && _)
        df.join(d, cond, "left_outer")
          .filter(col("__dord").isNull ||
            col("__g_ord") > col("__dord"))
          .drop(keyOrder.indices.map(j => s"__dk$j") :+ "__dord": _*)
      }
      val seedRows = tableLive.select(
        keyOrder.zipWithIndex.map { case (kc, j) =>
          col(kc).cast(schema(kc).dataType).as(s"__mk$j") } ++
        schema.fieldNames.toSeq.map(col) ++
        Seq(struct(lit(Long.MinValue).as("ts_ns"),
            lit(Long.MinValue).as("event_id"),
            lit(Long.MinValue).as("w")).as("__g_ord"),
          lit(false).as("__ups")): _*)
      val all = liveOf(insRows.unionByName(upsRows))
        .unionByName(seedRows)
      val wK = org.apache.spark.sql.expressions.Window
        .partitionBy(keyOrder.indices.map(j => col(s"__mk$j")): _*)
      val valsC = struct(schema.fieldNames.toSeq.map(col): _*)
      val scored = all
        .withColumn("__minOrd", min(col("__g_ord")).over(wK))
        .withColumn("__lastU",
          max(when(col("__ups"), struct(col("__g_ord").as("o"),
            valsC.as("v")))).over(wK))
      return scored
        .filter(!col("__ups") || col("__g_ord") === col("__minOrd"))
        .select(schema.fields.toSeq.map { f =>
          when(col("__lastU").isNotNull &&
              col("__lastU.o") > col("__g_ord"),
            col(s"__lastU.v.${f.name}"))
            .otherwise(col(f.name)).cast(f.dataType).as(f.name)
        }: _*)
    }
    if (kindSet == Set("insert", "fold")) {
      // INSERT + ACCUMULATOR-FOLD UPSERT (r14, ± sweepers): the table
      // is a keyed MULTISET where a fold-upsert ADDS its delta to
      // EVERY row live for its key at its position, inserting its
      // select row iff the key is empty there (= it is the key's
      // first surviving emission; a seed row from prior state makes
      // every batch upsert a delta). Final value of a surviving row =
      // its own value + Σ of deltas that landed AFTER it — which is
      // total-minus-prefix over one keyed ordered window: key-local,
      // no per-event loop, the algebra that makes this composable
      // where general expr-set mixes stay row-level.
      val insIdx = updWI
        .filter(_._1._2.isInstanceOf[InsertInto]).map(_._2)
      val upsWI2 = updWI.filter(_._1._2.isInstanceOf[UpsertTable])
      val foldSpecs2: List[Map[String, String]] =
        upsWI2.map { case ((_, act2, _, _), _) =>
          act2 match {
            case UpsertTable(_, set, _) => set.flatMap { case (c, e) =>
              foldSetOf(t, c, e).map { case (op, _) => c -> op } }.toMap
            case _ => Map.empty[String, String]
          }
        }
      if (foldSpecs2.distinct.length != 1)
        fail(s"multi-writer table '$t' (v1): accumulator-fold " +
          "writers must fold the SAME columns with the same operators")
      val folds2 = foldSpecs2.head.toList.sortBy(_._1)
      val upsRows = upsWI2.map { case ((_, act2, _, _), i) =>
        val (sel, outCols, _) = emissions(i)
        schema.fieldNames.foreach(c =>
          if (!outCols.contains(c))
            fail(s"update or insert into $t: select output must " +
              s"cover every table column (missing: $c)"))
        val keys = act2 match {
          case UpsertTable(_, _, on) => keyEqsOf(on, t)
          case _ => Nil
        }
        val deltaOf: Map[String, Expr] = act2 match {
          case UpsertTable(_, set, _) => set.flatMap { case (c, e) =>
            foldSetOf(t, c, e).map { case (_, d) => c -> d } }.toMap
          case _ => Map.empty
        }
        def streamSql(e: Expr): String = sqlOfWith(e, {
          case c :: Nil if outCols.contains(c) => c
          case parts => fail(s"fold delta reference " +
            s"'${parts.mkString(".")}' is not a select output " +
            "attribute")
        })
        sel.select(keyOrder.zipWithIndex.map { case (kc, j) =>
          expr(keys.find(_._1 == kc).get._2)
            .cast(schema(kc).dataType).as(s"__mk$j") } ++
          schema.fields.toSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)) ++
          folds2.map { case (c, op) =>
            // sign folded in: `T.c - e` subtracts
            (if (op == "-") -expr(streamSql(deltaOf(c)))
             else expr(streamSql(deltaOf(c))))
              .cast(schema(c).dataType).as(s"__fd_$c") } ++
          Seq(col("__g_ord"), lit(true).as("__ups")): _*)
      }.reduce(_ unionByName _)
      val zeroDeltas = folds2.map { case (c, _) =>
        lit(null).cast(schema(c).dataType).as(s"__fd_$c") }
      val insRows = insertRowsOf(insIdx).select(
        keyOrder.zipWithIndex.map { case (kc, j) =>
          col(kc).cast(schema(kc).dataType).as(s"__mk$j") } ++
        schema.fieldNames.toSeq.map(col) ++ zeroDeltas ++
        Seq(col("__g_ord"), lit(false).as("__ups")): _*)
      def liveOf2(df: DataFrame): DataFrame = dm.fold(df) { d =>
        val cond = keyOrder.indices.map(j =>
          df(s"__mk$j") <=> d(s"__dk$j")).reduce(_ && _)
        df.join(d, cond, "left_outer")
          .filter(col("__dord").isNull ||
            col("__g_ord") > col("__dord"))
          .drop(keyOrder.indices.map(j => s"__dk$j") :+ "__dord": _*)
      }
      val seedRows = tableLive.select(
        keyOrder.zipWithIndex.map { case (kc, j) =>
          col(kc).cast(schema(kc).dataType).as(s"__mk$j") } ++
        schema.fieldNames.toSeq.map(col) ++ zeroDeltas ++
        Seq(struct(lit(Long.MinValue).as("ts_ns"),
            lit(Long.MinValue).as("event_id"),
            lit(Long.MinValue).as("w")).as("__g_ord"),
          lit(false).as("__ups")): _*)
      val all = liveOf2(insRows.unionByName(upsRows))
        .unionByName(seedRows)
      val wK = org.apache.spark.sql.expressions.Window
        .partitionBy(keyOrder.indices.map(j => col(s"__mk$j")): _*)
      val wKo = wK.orderBy(col("__g_ord"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val scored2 = folds2.foldLeft(
        all.withColumn("__minOrd", min(col("__g_ord")).over(wK))) {
        case (df, (c, _)) =>
          val isDelta = col("__ups") && col("__g_ord") =!= col("__minOrd")
          df.withColumn(s"__cum_$c",
              sum(when(isDelta, col(s"__fd_$c"))).over(wKo))
            .withColumn(s"__tot_$c",
              sum(when(isDelta, col(s"__fd_$c"))).over(wK))
      }
      val foldCols = folds2.map(_._1).toSet
      return scored2
        .filter(!col("__ups") || col("__g_ord") === col("__minOrd"))
        .select(schema.fields.toSeq.map { f =>
          if (foldCols.contains(f.name))
            (col(f.name) +
              coalesce(col(s"__tot_${f.name}"), lit(0)) -
              coalesce(col(s"__cum_${f.name}"), lit(0)))
              .cast(f.dataType).as(f.name)
          else col(f.name).cast(f.dataType).as(f.name)
        }: _*)
    }
    if (kindSet == Set("upsert", "fold")) {
      // IMPLICIT-SET + ACCUMULATOR-FOLD UPSERT (r15, ± sweepers): a
      // keyed single-row-per-key table where an implicit upsert
      // RESETS the row to its values and a fold upsert adds its delta
      // (inserting its values iff the key is empty at its position).
      // Final value per key = the LAST reset's values (or, with no
      // surviving reset, the first surviving fold upsert's insert
      // values) + Σ of fold deltas after that origin — one keyed
      // window pass, no per-event replay. The prior-state seed enters
      // as a reset at ord −∞ (its values already carry every earlier
      // fold), which is what makes the live per-trigger merge
      // chunking-invariant.
      val upsWI3 = updWI.filter(_._1._2.isInstanceOf[UpsertTable])
      val foldSpecs3: List[Map[String, String]] = upsWI3.flatMap {
        case ((_, act2, _, _), _) => act2 match {
          case UpsertTable(_, set, _) if set.nonEmpty =>
            List(set.flatMap { case (c, e) =>
              foldSetOf(t, c, e).map { case (op, _) => c -> op } }.toMap)
          case _ => Nil
        }
      }
      if (foldSpecs3.distinct.length != 1)
        fail(s"multi-writer table '$t' (v1): accumulator-fold " +
          "writers must fold the SAME columns with the same operators")
      val folds3 = foldSpecs3.head.toList.sortBy(_._1)
      val upsRows3 = upsWI3.map { case ((_, act2, _, _), i) =>
        val (sel, outCols, _) = emissions(i)
        schema.fieldNames.foreach(c =>
          if (!outCols.contains(c))
            fail(s"update or insert into $t: select output must " +
              s"cover every table column (missing: $c)"))
        val (keys, deltaOf, isReset) = act2 match {
          case UpsertTable(_, set, on) =>
            (keyEqsOf(on, t),
              set.flatMap { case (c, e) =>
                foldSetOf(t, c, e).map { case (_, d) => c -> d } }.toMap,
              set.isEmpty)
          case _ => (Nil, Map.empty[String, Expr], false)
        }
        def streamSql(e: Expr): String = sqlOfWith(e, {
          case c :: Nil if outCols.contains(c) => c
          case parts => fail(s"fold delta reference " +
            s"'${parts.mkString(".")}' is not a select output " +
            "attribute")
        })
        sel.select(keyOrder.zipWithIndex.map { case (kc, j) =>
          expr(keys.find(_._1 == kc).get._2)
            .cast(schema(kc).dataType).as(s"__mk$j") } ++
          schema.fields.toSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)) ++
          folds3.map { case (c, op) =>
            (if (isReset) lit(null).cast(schema(c).dataType)
             else if (op == "-") -expr(streamSql(deltaOf(c)))
               .cast(schema(c).dataType)
             else expr(streamSql(deltaOf(c))).cast(schema(c).dataType))
              .as(s"__fd_$c") } ++
          Seq(col("__g_ord"), lit(isReset).as("__rst")): _*)
      }.reduce(_ unionByName _)
      val seedRows3 = tableLive.select(
        keyOrder.zipWithIndex.map { case (kc, j) =>
          col(kc).cast(schema(kc).dataType).as(s"__mk$j") } ++
        schema.fieldNames.toSeq.map(col) ++
        folds3.map { case (c, _) =>
          lit(null).cast(schema(c).dataType).as(s"__fd_$c") } ++
        Seq(struct(lit(Long.MinValue).as("ts_ns"),
            lit(Long.MinValue).as("event_id"),
            lit(Long.MinValue).as("w")).as("__g_ord"),
          lit(true).as("__rst")): _*)
      def liveOf3(df: DataFrame): DataFrame = dm.fold(df) { d =>
        val cond = keyOrder.indices.map(j =>
          df(s"__mk$j") <=> d(s"__dk$j")).reduce(_ && _)
        df.join(d, cond, "left_outer")
          .filter(col("__dord").isNull ||
            col("__g_ord") > col("__dord"))
          .drop(keyOrder.indices.map(j => s"__dk$j") :+ "__dord": _*)
      }
      val all3 = liveOf3(upsRows3).unionByName(seedRows3)
      val wK3 = org.apache.spark.sql.expressions.Window
        .partitionBy(keyOrder.indices.map(j => col(s"__mk$j")): _*)
      val valsC3 = struct(schema.fieldNames.toSeq.map(col): _*)
      val scored3 = folds3.foldLeft(all3
        .withColumn("__lastR", max(when(col("__rst"),
          struct(col("__g_ord").as("o"), valsC3.as("v")))).over(wK3))
        .withColumn("__minOrd", min(col("__g_ord")).over(wK3))) {
        case (df, (c, _)) =>
          df.withColumn(s"__tot_$c",
            sum(when(!col("__rst") &&
              when(col("__lastR").isNotNull,
                col("__g_ord") > col("__lastR.o"))
                .otherwise(col("__g_ord") =!= col("__minOrd")),
              col(s"__fd_$c"))).over(wK3))
      }
      val foldCols3 = folds3.map(_._1).toSet
      return scored3
        .filter(when(col("__lastR").isNotNull,
          col("__rst") && col("__g_ord") === col("__lastR.o"))
          .otherwise(col("__g_ord") === col("__minOrd")))
        .select(schema.fields.toSeq.map { f =>
          if (foldCols3.contains(f.name))
            (col(f.name) + coalesce(col(s"__tot_${f.name}"), lit(0)))
              .cast(f.dataType).as(f.name)
          else col(f.name).cast(f.dataType).as(f.name)
        }: _*)
    }
    if (kind == "insert") {
      // INSERT + DELETE (r12): inserts are independent rows — no key
      // collapse — and a row's key VALUES are its own key-column
      // values, so an inserted row survives iff no tombstone for its
      // key sits at or after its interleaved position (a sweep
      // followed by a re-insert revives the key, exactly the
      // per-event replay; an event flowing through both statements
      // has its own insert wiped by its own same-event tombstone —
      // the statement-index tiebreak).
      val mergedRows = insertRowsOf(updWI.map(_._2))
      val mergedLive = dm.fold(mergedRows) { d =>
        val cond = keyOrder.zipWithIndex.map { case (kc, j) =>
          mergedRows(kc) <=> d(s"__dk$j") }.reduce(_ && _)
        mergedRows.join(d, cond, "left_outer")
          .filter(col("__dord").isNull || col("__g_ord") > col("__dord"))
          .drop(keyOrder.indices.map(j => s"__dk$j") :+ "__dord": _*)
      }
      return applyEmissions(InsertInto(t), schema, tableLive,
        mergedLive, schema.fieldNames.toSeq)
    }
    if (updW.isEmpty) return tableLive
    // fold specs: identical column → op across upsert writers
    val foldSpecs: List[Map[String, String]] = updW.map {
      case (_, UpsertTable(_, set, _), _, _) =>
        set.flatMap { case (c, e) =>
          foldSetOf(t, c, e).map { case (op, _) => c -> op } }.toMap
      case _ => Map.empty[String, String]
    }
    if (kind == "fold" && foldSpecs.distinct.length != 1)
      fail(s"multi-writer table '$t' (v1): accumulator-fold writers " +
        "must fold the SAME columns with the same operators")
    val folds = foldSpecs.head.toList.sortBy(_._1)
    // normalize each upsert writer: pre-evaluate its key RHS and fold
    // deltas over its own select outputs, cast table columns
    val merged = updWI.map {
      case ((_, act2, _, _), i) =>
        val (sel, outCols, _) = emissions(i)
        val keys = act2 match {
          case UpsertTable(_, _, on) => keyEqsOf(on, t)
          case _ => Nil
        }
        schema.fieldNames.foreach(c =>
          if (!outCols.contains(c))
            fail(s"update or insert into $t: select output must cover " +
              s"every table column (missing: $c)"))
        val deltaOf: Map[String, Expr] = act2 match {
          case UpsertTable(_, set, _) => set.flatMap { case (c, e) =>
            foldSetOf(t, c, e).map { case (_, d) => c -> d } }.toMap
          case _ => Map.empty
        }
        def streamSql(e: Expr): String = sqlOfWith(e, {
          case c :: Nil if outCols.contains(c) => c
          case parts => fail(s"fold delta reference " +
            s"'${parts.mkString(".")}' is not a select output attribute")
        })
        sel.select(keyOrder.zipWithIndex.map { case (kc, i) =>
          expr(keys.find(_._1 == kc).get._2).as(s"__mk$i")
        } ++ schema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)) ++
          folds.map { case (c, _) =>
            expr(streamSql(deltaOf(c))).cast(schema(c).dataType)
              .as(s"__fdm_$c") } :+ col("__g_ord"): _*)
    }.reduce(_ unionByName _)
    // drop every upsert emission at or before its key's last tombstone
    // — those rows are wiped in the interleaved replay; survivors feed
    // the ordinary merge (the first survivor inserts, later ones fold)
    val mergedLive = dm.fold(merged) { d =>
      val cond = keyOrder.zipWithIndex.map { case (kc, j) =>
        merged(s"__mk$j").cast(schema(kc).dataType) <=> d(s"__dk$j")
      }.reduce(_ && _)
      merged.join(d, cond, "left_outer")
        .filter(col("__dord").isNull || col("__g_ord") > col("__dord"))
        .drop(keyOrder.indices.map(j => s"__dk$j") :+ "__dord": _*)
    }
    // synthesized single merge over the interleaved union: keys match
    // on the pre-evaluated __mk columns, folds reference the
    // pre-evaluated __fdm deltas
    val onSyn: Expr = keyOrder.zipWithIndex.map { case (kc, i) =>
      Bin("==", Ref(List(t, kc)), Ref(List(s"__mk$i")))
    }.reduceLeft((a, b) => Bin("and", a, b))
    val setSyn: List[(String, Expr)] = folds.map { case (c, op) =>
      c -> Bin(op, Ref(List(t, c)), Ref(List(s"__fdm_$c")))
    }
    val outColsSyn = schema.fieldNames.toSeq ++
      keyOrder.indices.map(i => s"__mk$i") ++
      folds.map { case (c, _) => s"__fdm_$c" }
    applyEmissions(UpsertTable(t, setSyn, onSyn), schema, tableLive,
      mergedLive, outColsSyn)
  }

  /** Merge EMISSION rows — the select output attributes plus a
    * `__g_ord` replay-order struct — into `table` per the DML action.
    * An emission is one event for plain DML and one window-flush ×
    * group row for the aggregating form; the merge algebra (first/
    * last row per key + additive accumulator folds) is identical, so
    * the batch compile and the live windowed fold's finish share it. */
  private[api] def applyEmissions(act: Action, schema: StructType,
      table: DataFrame, sel: DataFrame, outCols: Seq[String])
      : DataFrame = {
    def keyEqs(on: Expr, t: String): List[(String, String)] =
      keyEqsOf(on, t)

    // set RHS over the per-key LAST update event's output row
    def lastSql(e: Expr, t: String): String = sqlOfWith(e, {
      case c :: Nil if outCols.contains(c) => s"__last.$c"
      case tn :: c :: Nil if tn.equalsIgnoreCase(t) =>
        fail(s"set RHS may reference the stream's output attributes only " +
          s"— general '$t.$c' table folds are not batch-replay " +
          "collapsible (accumulator folds `T.c = T.c + expr` ARE, and " +
          "collapse algebraically)")
      case parts => fail(s"set RHS reference '${parts.mkString(".")}' is " +
        "not a select output attribute")
    })
    // per-event fold contribution expression over the select outputs
    def streamSql(e: Expr): String = sqlOfWith(e, {
      case c :: Nil if outCols.contains(c) => c
      case parts => fail(s"fold delta reference '${parts.mkString(".")}'" +
        " is not a select output attribute")
    })

    def requireCovers(form: String): Unit = {
      val missing = schema.fieldNames.filterNot(outCols.contains)
      if (missing.nonEmpty)
        fail(s"$form: select output must cover every table column " +
          s"(missing: ${missing.mkString(", ")})")
    }

    /** Shared update/upsert merge; `insertMissing` = upsert. */
    def merge(t: String, set: List[(String, Expr)], on: Expr,
              insertMissing: Boolean): DataFrame = {
      val keys = keyEqs(on, t)
      val keyCols = keys.map(_._1).toSet
      keyCols.foreach { c =>
        if (!schema.fieldNames.contains(c))
          fail(s"'on' references unknown table column '$t.$c'")
      }
      if (insertMissing) requireCovers(s"update or insert into $t")
      // per set column: Left(lastSql) = last-event-wins expression,
      // Right((op, deltaSql)) = additive accumulator fold
      val eff: Map[String, Either[String, (String, String)]] =
        if (set.nonEmpty) set.map { case (c, e) =>
          if (!schema.fieldNames.contains(c))
            fail(s"set targets unknown table column '$t.$c'")
          c -> (foldSetOf(t, c, e) match {
            case Some((op, d)) => Right((op, streamSql(d)))
            case None => Left(lastSql(e, t))
          })
        }.toMap
        else schema.fieldNames.toList
          .filter(c => outCols.contains(c) && !keyCols(c))
          .map(c => c -> Left(s"__last.$c")).toMap
      val folds: List[(String, (String, String))] = eff.toList.collect {
        case (c, Right(f)) => c -> f }.sortBy(_._1)
      val row = struct(outCols.map(col): _*)
      // fold deltas aggregate per key alongside the first/last rows:
      // Σ delta over all update events, plus the FIRST event's delta
      // (subtracted when that event is an upsert-INSERT — the insert
      // row carries its values directly, later events fold on top)
      val foldAggs: Seq[Column] = folds.flatMap { case (c, _) =>
        Seq(sum(col(s"__fd_$c")).as(s"__fs_$c"),
          min_by(col(s"__fd_$c"), col("__g_ord")).as(s"__ffv_$c"))
      }
      val uAgg = sel
        .select((keys.zipWithIndex.map { case ((_, rhs), i) =>
          expr(rhs).as(s"__k$i")
        } ++ Seq(row.as("__row"), col("__g_ord")) ++
          folds.map { case (c, (_, d)) => expr(d).as(s"__fd_$c") }): _*)
        .groupBy(keys.indices.map(i => col(s"__k$i")): _*)
        .agg(min_by(col("__row"), col("__g_ord")).as("__first"),
          (max_by(col("__row"), col("__g_ord")).as("__last") +:
            count(lit(1)).as("__n") +: foldAggs): _*)
        .withColumn("__has_u", lit(true))
      val tt = table.withColumn("__has_t", lit(true))
      val cond = keys.zipWithIndex.map { case ((tc, _), i) =>
        tt(tc) === uAgg(s"__k$i")
      }.reduce(_ && _)
      val joined = tt.join(uAgg, cond,
        if (insertMissing) "full_outer" else "left_outer")
      val out = schema.fields.map { f =>
        val c = f.name
        val hasT = col("__has_t").isNotNull
        val hasU = col("__has_u").isNotNull
        val v: Column =
          if (keyCols(c)) {
            val i = keys.indexWhere(_._1 == c)
            coalesce(col(c), col(s"__k$i"))
          } else eff.get(c) match {
            case Some(Left(sqlLast)) if insertMissing =>
              // matched, or inserted-then-updated (≥2 events): last
              // update wins; single inserting event: the insert row
              when(hasT && hasU, expr(sqlLast))
                .when(!hasT && hasU && col("__n") > 1, expr(sqlLast))
                .when(!hasT && hasU, col(s"__first.$c"))
                .otherwise(col(c))
            case Some(Left(sqlLast)) =>
              when(hasU, expr(sqlLast)).otherwise(col(c))
            case Some(Right((op, _))) =>
              // accumulator fold: matched → prior ± Σ deltas; upsert
              // insert → first row's value, then ± deltas of the
              // LATER events (Σ − first's delta)
              val fs = col(s"__fs_$c"); val ff = col(s"__ffv_$c")
              def app(b2: Column, d2: Column): Column =
                if (op == "+") b2 + d2 else b2 - d2
              if (insertMissing)
                when(hasT && hasU, app(col(c), fs))
                  .when(!hasT && hasU,
                    app(col(s"__first.$c"), fs - ff))
                  .otherwise(col(c))
              else when(hasU, app(col(c), fs)).otherwise(col(c))
            case None if insertMissing =>
              when(hasT, col(c)).otherwise(col(s"__first.$c"))
            case None => col(c)
          }
        v.cast(f.dataType).as(c)
      }
      joined.select(out.toSeq: _*)
    }

    act match {
      case InsertInto(t) =>
        requireCovers(s"insert into $t")
        table.unionByName(sel.select(schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toSeq: _*))
      case DeleteTable(t, on) =>
        val keys = keyEqs(on, t)
        val kdf = sel.select(keys.zipWithIndex.map { case ((_, rhs), i) =>
          expr(rhs).as(s"__k$i")
        }: _*).distinct()
        val cond = keys.zipWithIndex.map { case ((tc, _), i) =>
          table(tc) === kdf(s"__k$i")
        }.reduce(_ && _)
        table.join(kdf, cond, "left_anti")
      case UpdateTable(t, set, on) => merge(t, set, on, insertMissing = false)
      case UpsertTable(t, set, on) => merge(t, set, on, insertMissing = true)
    }
  }

  private[api] def compileOne(spark: SparkSession, dir: String, query: String,
                         env: Map[String, DataFrame]): DataFrame =
    compileAst(spark, dir, new P(lex(query)).query(), env)

  private[api] def compileAst(spark: SparkSession, dir: String, ast: Ast,
                         env: Map[String, DataFrame],
                         aggDefs: Map[String, AggDef] = Map.empty,
                         partKey: Option[String] = None): DataFrame = {
    ast.action.foreach {
      case _: InsertInto => ()
      case a => fail(s"table DML targeting '${a.target}' needs an app " +
        "context: use compileApp with a `define table` declaration")
    }
    // partition-block guard (r13): the partition key reaches only
    // window/groupBy compilation, so a rate here would compile as
    // GLOBAL (aggregation reads already fail at the partition branch:
    // they don't read the partitioned stream)
    requireUnpartitionedRate(ast, partKey)
    val selected = (ast.rate, ast.stream) match {
      case (Some(r), s: SingleStream) =>
        compileRateLimited(spark, dir, ast, s, r, env)
      case (Some(r), jn: JoinStream) =>
        compileJoin(spark, dir, ast, jn, env, aggDefs, Some(r))
      case (Some(r), pt: PatternStream) =>
        compilePattern(spark, dir, ast, pt, Some(r))
      case (None, s: SingleStream) if aggDefs.contains(s.table) =>
        compileAggQuery(spark, dir, ast, s, aggDefs(s.table), env)
      case (None, s: SingleStream) =>
        if (s.aggWithin.nonEmpty || s.aggPer.nonEmpty)
          fail(s"within/per reads require `define aggregation " +
            s"${s.table}` in an app context (compileApp)")
        compileSingle(spark, dir, ast, s, env, partKey)
      case (None, j: JoinStream) =>
        compileJoin(spark, dir, ast, j, env, aggDefs)
      case (None, pt: PatternStream) => compilePattern(spark, dir, ast, pt)
    }
    orderOffsetLimit(ast, selected)
  }

  /** `ast`'s `order by` as sort columns. */
  private[api] def orderColsOf(ast: Ast): Seq[Column] =
    ast.orderBy.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }

  /** A query's result tail, shared by the batch compile and the live
    * [[deployApp]]: order, then Siddhi's offset skips M rows and limit
    * caps what follows (Spark's offset/limit compose in that order). */
  private[api] def orderOffsetLimit(ast: Ast, df: DataFrame): DataFrame = {
    val ordered =
      if (ast.orderBy.isEmpty) df else df.orderBy(orderColsOf(ast): _*)
    val off = ast.offset.fold(ordered)(m => ordered.offset(m.toInt))
    ast.limit.fold(off)(n => off.limit(n.toInt))
  }

  /** `df`'s event columns as [[Cep.Ev]] rows, the per-key buffered
    * folds' and the pattern NFA's input; a missing column fails naming
    * `table`, the stream `df` reads. */
  private[api] def evsOf(df: DataFrame, table: String): Dataset[Cep.Ev] = {
    Seq("event_id", "ts_ns", "user_id", "event_type", "value").foreach(c =>
      if (!df.columns.contains(c))
        fail("buffered windows and patterns read event streams; " +
          s"'$table' lacks '$c'"))
    df.select(col("event_id").as("eventId"), col("ts_ns").as("tsNs"),
      col("user_id").as("userId"), col("event_type").as("eventType"),
      col("value")).as[Cep.Ev](Encoders.product[Cep.Ev])
  }

  /** One key's events through a buffered window, in arrival (ts_ns,
    * event_id) order from buffer `buf0`: `step(buffer, event)` returns
    * the buffer kept and the events the select items evaluate over
    * ([[bufEval]]). Returns the last buffer and one row per event —
    * the batch expression window's group scan and the live
    * [[bufferFold]]'s state step. */
  private[api] def scanKey(evs: Iterator[Cep.Ev], buf0: Vector[Cep.Ev],
      items: Seq[(SelItem, String, Boolean)],
      step: (Vector[Cep.Ev], Cep.Ev) => (Vector[Cep.Ev], Vector[Cep.Ev]))
      : (Vector[Cep.Ev], Vector[Row]) = {
    var buf = buf0
    val out = evs.toVector.sortBy(e => (e.tsNs, e.eventId)).map { e =>
      val (kept, win) = step(buf, e)
      buf = kept
      Row.fromSeq(items.map { case (it, _, _) => bufEval(it.e, win, e) })
    }
    (buf, out)
  }

  /** The expression window's step on both surfaces: append the event,
    * then evict from the FRONT until the retain-while predicate `ret`
    * holds again. */
  private[api] def retainWhile(ret: Expr)(buf0: Vector[Cep.Ev],
      e: Cep.Ev): (Vector[Cep.Ev], Vector[Cep.Ev]) = {
    var buf = buf0 :+ e
    while (buf.nonEmpty && !bufEval(ret, buf, e).asInstanceOf[Boolean])
      buf = buf.tail
    (buf, buf)
  }

  /** Evaluate a select/retention expression over a buffered window of
    * events: aggregates fold over `buf`, plain refs read the CURRENT
    * event. Shared by the batch expression window and the live length
    * window — the per-key buffered-fold interpreter. */
  private[api] def bufEval(e: Expr, buf: scala.collection.Seq[Cep.Ev],
      cur: Cep.Ev): Any = e match {
    case Num(t) => if (t.contains('.')) t.toDouble else t.toLong
    case Str(v) => v
    case Ref(f :: Nil) => field(cur, f)
    case Call(None, "count", Nil) => buf.size.toLong
    case Call(None, n2 @ ("sum" | "avg" | "min" | "max"),
        List(Ref(f :: Nil))) =>
      val xs: Seq[Double] = buf.map(ev2 => num(field(ev2, f))).toSeq
      n2 match {
        case "sum" => xs.sum
        case "avg" => xs.sum / xs.size
        case "min" => xs.min
        case "max" => xs.max
      }
    case Call(Some("math"), "round", List(x, Num(d))) =>
      BigDecimal(num(bufEval(x, buf, cur)))
        .setScale(d.toInt, BigDecimal.RoundingMode.HALF_UP).toDouble
    case Not(x) => !bufEval(x, buf, cur).asInstanceOf[Boolean]
    case Neg(x) => -num(bufEval(x, buf, cur))
    case Bin(op, l, r) => op match {
      case "and" => bufEval(l, buf, cur).asInstanceOf[Boolean] &&
        bufEval(r, buf, cur).asInstanceOf[Boolean]
      case "or" => bufEval(l, buf, cur).asInstanceOf[Boolean] ||
        bufEval(r, buf, cur).asInstanceOf[Boolean]
      case "==" => num(bufEval(l, buf, cur)) == num(bufEval(r, buf, cur))
      case "!=" => num(bufEval(l, buf, cur)) != num(bufEval(r, buf, cur))
      case "<"  => num(bufEval(l, buf, cur)) < num(bufEval(r, buf, cur))
      case "<=" => num(bufEval(l, buf, cur)) <= num(bufEval(r, buf, cur))
      case ">"  => num(bufEval(l, buf, cur)) > num(bufEval(r, buf, cur))
      case ">=" => num(bufEval(l, buf, cur)) >= num(bufEval(r, buf, cur))
      case "+" => num(bufEval(l, buf, cur)) + num(bufEval(r, buf, cur))
      case "-" => num(bufEval(l, buf, cur)) - num(bufEval(r, buf, cur))
      case "*" => num(bufEval(l, buf, cur)) * num(bufEval(r, buf, cur))
      case "/" => num(bufEval(l, buf, cur)) / num(bufEval(r, buf, cur))
      case o => fail(s"operator '$o' unsupported in a buffered window")
    }
    case other2 => fail("unsupported construct in a buffered window: " +
      other2.getClass.getSimpleName)
  }

  /** Row encoder of a buffered-fold select list (the types [[bufEval]]
    * actually returns per item). */
  private[api] def evRows(items: Seq[(SelItem, String, Boolean)])
      : Encoder[Row] = Encoders.row(StructType(items.map {
    case (it, a, isAgg) => StructField(a, it.e match {
      case Call(None, "count", Nil) => LongType
      case _ if isAgg => DoubleType
      case Ref(f :: Nil) => f match {
        case "event_type" => StringType
        case "value" => DoubleType
        case _ => LongType
      }
      case _ => DoubleType
    })
  }))

  /** An AND-chain contains at least one equality — the key a windowed
    * band join shards on (a pure time-band join would be a nested loop
    * at scale). */
  private[api] def hasEqui(e: Expr): Boolean = e match {
    case Bin("and", a, b) => hasEqui(a) || hasEqui(b)
    case Bin("==", _, _) => true
    case _ => false
  }

  /** Expand `select *` (alone or among other items) to the source's
    * column list, keeping any explicitly named items around it. */
  private[api] def expandStar(ast: Ast, cols: Seq[String]): Ast =
    if (!ast.select.exists(_.e == Star)) ast
    else ast.copy(select = ast.select.flatMap {
      case SelItem(Star, Some(_)) => fail("`*` cannot take an alias")
      case SelItem(Star, None) => cols.map(c => SelItem(Ref(List(c)), None))
      case it => List(it)
    })

  private[api] def alias(it: SelItem, i: Int): String = it.alias.getOrElse(
    it.e match {
      case Ref(parts) => parts.last
      case _ => s"col$i"
    })

  /** Select-item bookkeeping shared by the single-stream, windowed, and
    * join paths: (item, output alias, is-aggregate). */
  private[api] def itemsOf(ast: Ast) = ast.select.zipWithIndex.map {
    case (it, i) => (it, alias(it, i), containsAgg(it.e))
  }

  /** Refuse a window key (or a column the window orders by) that
    * `cols` lacks, naming the window. */
  private[api] def windowKeys(w: WindowSpec, keys: Seq[String],
      cols: Seq[String]): Unit =
    keys.foreach(k => if (!cols.contains(k))
      fail(s"${w.name} key '$k' is not a column"))

  /** sort's retention order on both surfaces: every attribute with its
    * direction (r17 breadth audit: attributes past the first were
    * silently DROPPED before), then arrival (ts_ns, event_id). */
  private[api] def sortOrder(w: Sort, cols: Seq[String]): Seq[Column] = {
    windowKeys(w, w.attrs.map(_._1) ++ Seq("ts_ns", "event_id"), cols)
    w.attrs.map { case (a, asc) => if (asc) col(a).asc else col(a).desc } ++
      Seq(col("ts_ns").asc, col("event_id").asc)
  }

  /** Grouped aggregation over `df` (plus any window-derived implicit
    * keys), or a plain projection when no item aggregates. */
  private[api] def selectOrAggregate(ast: Ast, df: DataFrame,
      implicitKeys: Seq[(String, Column)], windowed: Boolean,
      carry: Seq[Column] = Nil): DataFrame = {
    val items = itemsOf(ast)
    val aggCols = items.collect { case (it, a, true) =>
      expr(sqlOf(it.e)).as(a)
    }
    if (aggCols.isEmpty) {
      if (windowed) fail("a windowed query needs an aggregate select")
      if (ast.having.nonEmpty) fail("having needs an aggregation")
      df.select(items.map { case (it, a, _) =>
        expr(sqlOf(it.e)).as(a)
      } ++ carry: _*)
    } else {
      items.collect { case (it, _, false) => it }.foreach { it =>
        it.e match {
          // a bare or stream-qualified column that is a group key
          // (the key may have been rewritten to its qualified form by
          // the join path's ambiguity resolution)
          case Ref(parts) if ast.groupBy.contains(parts.last) ||
              ast.groupBy.contains(parts.mkString(".")) => ()
          case _ => fail(s"non-aggregate select item " +
            s"'${sqlOf(it.e)}' must be a group by column")
        }
      }
      val keyCols = implicitKeys.map(_._2) ++ ast.groupBy.map(col)
      val agged = df.groupBy(keyCols: _*)
        .agg(aggCols.head, aggCols.tail: _*)
      val out = implicitKeys.map { case (n, _) => col(n) } ++
        items.map { case (it, a, isAgg) =>
          if (isAgg) col(a)
          else it.e match { case Ref(parts) => col(parts.last).as(a)
                            case _ => col(a) }
        }
      val hav = ast.having.fold(agged)(h => agged.where(expr(sqlOf(h))))
      hav.select(out: _*)
    }
  }

  /** A windowed aggregation keyed on the window column `w` (named
    * `wName`), its `bounds` (e.g. `w_start_ms`) ahead of the select
    * items — the live tumbling and session aggregations and the batch
    * session. */
  private[api] def windowedSelect(ast: Ast, df: DataFrame, wName: String,
      w: Column, bounds: Seq[Column]): DataFrame =
    selectOrAggregate(ast, df, Seq(wName -> w), windowed = true)
      .select(bounds ++ itemsOf(ast).map(it => col(it._2)): _*)

  /** `session(gap)` on both surfaces: [[windowedSelect]] over
    * `session_window(ts, gap)`, its bounds as `w_start_ms`/`w_end_ms`. */
  private[api] def sessionAgg(ast: Ast, df: DataFrame, gapNs: Long)
      : DataFrame =
    windowedSelect(ast, df, "session_window",
      session_window(col("ts"), s"${gapNs / 1000000} milliseconds"),
      Seq(unix_millis(col("session_window.start")).as("w_start_ms"),
        unix_millis(col("session_window.end")).as("w_end_ms")))

  /** `@OnError(action='STREAM')` split for stream `sN`: (fault twin,
    * clean view). v1 fault class = integer divide/modulo by zero,
    * derived from the zero-divisor conditions implied by every query
    * reading `sN` in the app (engine twin: Ops.faultStream's
    * validation-predicate union) — single-stream queries, partition
    * blocks over `sN` (inner queries + range-label conditions), and
    * the `sN` side of joins / pattern steps (side-local expressions
    * only: a divisor referencing the OTHER join side cannot be
    * evaluated per-`sN`-event, so it contributes nothing — the pair
    * fault routes with the erroring event, out of v1 scope). Stream
    * names match case-insensitively, like the rest of the compiler.
    * Rows matching any condition route to `!sN` with `_error`; clean
    * readers see the exact complement (an erroring event produces no
    * main output). Shared by the batch replay and the live deployment:
    * both split filters are OR-extended with the flush-sentinel region
    * (`ts >= flushCutoff`) so they stay above the source watermark
    * node and sentinels reach BOTH branches — a stateful live reader
    * of `!sN` (or of the clean view when a divisor happens to be zero
    * on the sentinel's synthetic values) still sees the watermark
    * advance; stateful operators drop sentinels right above
    * themselves, and the batch replay has no `ts` in that region so
    * the extension is the identity there. */
  private[api] def onErrorSplit(base: DataFrame,
      stmts: List[(Option[String], String, Boolean)], sN: String)
      : (DataFrame, DataFrame) = {
    def divisors(e: Expr): List[Expr] = e match {
      case Bin(op, l, r) if op == "/" || op == "%" =>
        r :: divisors(l) ::: divisors(r)
      case Bin(_, l, r) => divisors(l) ::: divisors(r)
      case Not(x) => divisors(x)
      case Neg(x) => divisors(x)
      case Call(_, _, args) => args.flatMap(divisors)
      case _ => Nil
    }
    def isSn(t: String): Boolean = t.equalsIgnoreCase(sN)
    // Rewrite a divisor to `sN`-local form: refs qualified by an `sN`
    // alias/binding drop the qualifier; refs qualified by another
    // stream's alias make the divisor non-local → None (dropped).
    def localize(e: Expr, snQ: Set[String], otherQ: Set[String])
        : Option[Expr] = e match {
      case Ref(q :: c :: Nil) if snQ.exists(_.equalsIgnoreCase(q)) =>
        Some(Ref(c :: Nil))
      case Ref(q :: _) if otherQ.exists(_.equalsIgnoreCase(q)) => None
      case Ref(_) | Num(_) | Str(_) => Some(e)
      case Bin(op, l, r) => for { a <- localize(l, snQ, otherQ)
                                  b <- localize(r, snQ, otherQ) }
                            yield Bin(op, a, b)
      case Not(x) => localize(x, snQ, otherQ).map(Not)
      case Neg(x) => localize(x, snQ, otherQ).map(Neg)
      case Call(ns, n, as) =>
        val ls = as.map(localize(_, snQ, otherQ))
        if (ls.forall(_.nonEmpty)) Some(Call(ns, n, ls.map(_.get)))
        else None
      case _ => None
    }
    def fromAst(ast: Ast): List[Expr] = ast.stream match {
      case ss: SingleStream if isSn(ss.table) =>
        (ss.filter.toList ++ ast.select.map(_.e) ++
          ast.having.toList).flatMap(divisors)
      case j: JoinStream if isSn(j.left.table) || isSn(j.right.table) =>
        val sides = List(j.left -> j.leftAlias, j.right -> j.rightAlias)
        val snQ = sides.collect { case (s, a) if isSn(s.table) =>
          a.getOrElse(s.table) }.toSet
        val otherQ = sides.collect { case (s, a) if !isSn(s.table) =>
          a.getOrElse(s.table) }.toSet
        val local = sides.collect { case (s, _) if isSn(s.table) =>
          s.filter.toList }.flatten.flatMap(divisors)
        val shared = (j.on :: ast.select.map(_.e) ++ ast.having.toList)
          .flatMap(divisors)
        local ::: shared.flatMap(localize(_, snQ, otherQ))
      case p: PatternStream =>
        val snBind = p.steps.flatMap {
          case PatCond(b2, t, _, _, _) if isSn(t) => List(b2)
          case PatPair(_, b1, t1, _, b2, t2, _) =>
            (if (isSn(t1)) List(b1) else Nil) :::
              (if (isSn(t2)) List(b2) else Nil)
          case _ => Nil
        }.toSet
        val otherBind = p.steps.flatMap {
          case PatCond(b2, t, _, _, _) if !isSn(t) => List(b2)
          case PatPair(_, b1, t1, _, b2, t2, _) =>
            (if (!isSn(t1)) List(b1) else Nil) :::
              (if (!isSn(t2)) List(b2) else Nil)
          case _ => Nil
        }.toSet
        val stepLocal = p.steps.flatMap {
          case PatCond(_, t, c, _, _) if isSn(t) => divisors(c)
          case PatAbsent(t, c, _) if isSn(t) => divisors(c)
          case PatPair(_, _, t1, c1, _, t2, c2) =>
            (if (isSn(t1)) divisors(c1) else Nil) :::
              (if (isSn(t2)) divisors(c2) else Nil)
          case _ => Nil
        }
        if (snBind.isEmpty && stepLocal.isEmpty) Nil
        else stepLocal.flatMap(localize(_, snBind, otherBind)) :::
          (ast.select.map(_.e) ++ ast.having.toList).flatMap(divisors)
            .flatMap(localize(_, snBind, otherBind))
      case _ => Nil
    }
    val conds: Seq[Column] = stmts.flatMap { case (_, b, _) =>
      val head = b.split("\\s+", 2).headOption.getOrElse("")
      if (head.equalsIgnoreCase("from"))
        scala.util.Try(fromAst(new P(lex(b)).query())).getOrElse(Nil)
      else if (head.equalsIgnoreCase("partition")) scala.util.Try {
        val pb = parsePartition(b)
        if (!isSn(pb.src)) Nil
        else pb.ranges.map(_._1).flatMap(divisors) :::
          pb.inner.split(";").map(_.trim).filter(_.nonEmpty).toList
            .flatMap(stripAnnotations).flatMap { case (_, qb, _) =>
              scala.util.Try {
                val a = new P(lex(qb)).query()
                a.stream match {
                  case ss: SingleStream if isSn(ss.table) ||
                      ss.table.equalsIgnoreCase(pb.src) => fromAst(
                    a.copy(stream = ss.copy(table = sN)))
                  case _ => fromAst(a)
                }
              }.getOrElse(Nil)
            }
      }.getOrElse(Nil)
      else Nil
    }.map(sqlOf).distinct.flatMap { rTxt =>
      scala.util.Try {
        val c = expr(rTxt)
        base.select(c).schema.head.dataType match {
          case LongType | IntegerType | ShortType | ByteType =>
            Some(c === 0)
          case _ => None // double division never faults (IEEE inf)
        }
      }.toOption.flatten
    }
    val faultAny = coalesce(
      conds.reduceOption(_ || _).getOrElse(lit(false)), lit(false))
    // both branches keep the sentinel region (no-op for batch replay —
    // real data never reaches ts >= flushCutoff)
    val sentinel: Column =
      if (base.columns.contains("ts"))
        col("ts") >= graft.engine.Streaming.flushCutoff
      else lit(false)
    (base.filter(faultAny || sentinel)
       .withColumn("_error", when(sentinel, lit(null).cast("string"))
         .otherwise(lit("divide_by_zero"))),
      base.filter(!faultAny || sentinel))
  }

  /** Env lookup matching the compiler's case-insensitive stream-name
    * semantics: exact key first (the common case, free), then a
    * case-insensitive scan — so `from Events` reads the same declared
    * view (e.g. an @OnError clean split) as `from events` instead of
    * silently falling through to the raw table. */
  private[api] def envLookup(env: Map[String, DataFrame], name: String)
      : Option[DataFrame] =
    env.get(name).orElse(env.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => v })

  private[api] def loadTable(spark: SparkSession, dir: String, name: String,
                        env: Map[String, DataFrame]): DataFrame =
    envLookup(env, name).getOrElse(
      if (name.startsWith("!"))
        fail(s"fault stream '$name' needs an app context with " +
          s"`@OnError(action='STREAM') define stream ${name.drop(1)} " +
          "(...)`")
      else if (name.equalsIgnoreCase("events")) Tables.events(spark, dir)
      else Tables.table(spark, dir, name))

  /** Apply a stream filter that may contain `<expr> in Table` membership
    * conjuncts: each positive conjunct becomes a LEFT SEMI join against
    * the table (LEFT ANTI under `not`), the residual predicate stays a
    * WHERE. Key resolution: a same-named table column if the left side
    * is a bare attribute, else the table's single column. The join side
    * is distinct'd; the strategy is left to Catalyst/AQE — a small
    * lookup table broadcasts, a large one shuffles (never a per-row
    * lookup, never forced into driver memory). */
  private[api] def applyFilter(spark: SparkSession, dir: String, df: DataFrame,
      f: Expr, env: Map[String, DataFrame]): DataFrame = {
    def conjuncts(e: Expr): List[Expr] = e match {
      case Bin("and", l, r) => conjuncts(l) ++ conjuncts(r)
      case x => List(x)
    }
    def isMem(e: Expr): Boolean = e match {
      case InTable(_, _) | Not(InTable(_, _)) => true
      case _ => false
    }
    val (mems, rest) = conjuncts(f).partition(isMem)
    if (mems.isEmpty) return df.where(expr(sqlOf(f)))
    val withWhere =
      if (rest.isEmpty) df
      else df.where(expr(sqlOf(rest.reduceLeft(Bin("and", _, _)))))
    mems.foldLeft(withWhere) { (cur, m) =>
      val (neg, it) = m match {
        case Not(x: InTable) => (true, x)
        case x: InTable => (false, x)
        case _ => fail("unreachable membership conjunct")
      }
      val tbl = loadTable(spark, dir, it.table, env)
      val jt = if (neg) "left_anti" else "left_semi"
      it.e match {
        case Ref(p :: Nil) if tbl.columns.contains(p) =>
          cur.join(tbl.select(p).distinct(), Seq(p), jt)
        case lhs if tbl.columns.length == 1 =>
          val k = tbl.columns.head
          cur.join(tbl.select(col(k).as("__in_key")).distinct(),
            expr(sqlOf(lhs)) === col("__in_key"), jt)
        case other => fail(s"`in ${it.table}`: '${sqlOf(other)}' has no " +
          s"same-named column in '${it.table}' and the table is not " +
          "single-column — name the membership key")
      }
    }
  }

  private[api] def refuseJoinSides(): Nothing =
    fail("batch join sides take #window.time(T), length(N), " +
      "timeBatch(T) or lengthBatch(N) on BOTH sides, in any " +
      "combination (the stream-stream windowed joins); other " +
      "join-side window types are not supported (v1)")

  /** The windowed stream-stream join's band over sides `lw` ⋈ `rw`, on
    * both surfaces: the two side aliases and the residual that pairs
    * (l, r) in exactly one direction. At the LATER event's arrival —
    * strict (ts_ns, event_id) order, so a self-join's same-event pair
    * never joins — the EARLIER side still retains its event by its own
    * rule: time, its [0, T] event-time band; timeBatch, tumbling-bucket
    * co-membership (the chunk holds exactly the current bucket);
    * length, its arrival-rank band seq > cnt − N; lengthBatch, ranks
    * past the last full multiple of N (arrivals since the last flush).
    * A count side reads its own rank `__seq<tag>` and the later side's
    * count of its arrivals `__cnt<tag>` (tag A left, B right: see
    * [[arrivalRanks]]). `render(alias, column)` names a side's column
    * (`a.ts_ns` in batch, `a_ts_ns` live); `unidirectional` keeps the
    * left-arrival direction. time ⋈ time has no residual: each surface
    * joins it on its symmetric band ([[timeHull]]), which admits the
    * same-event self-pair. Requires an equality conjunct (the join key
    * that shards the band join) and both aliases. */
  private[api] def joinBand(j: JoinStream, lw: WindowSpec, rw: WindowSpec,
      render: (String, String) => String)
      : (String, String, Option[String]) = {
    def ts(s: String) = render(s, "ts_ns")
    // (later, earlier, tag) => the earlier side's retention
    def rule(w: WindowSpec): (String, String, String) => String = w match {
      case Time(t) => (l, e, _) => s"${ts(l)} - ${ts(e)} <= ${t}L"
      case tb @ TimeBatch(t, _) =>
        requireEpochTb(tb, "stream-stream join sides")
        (l, e, _) => s"(${ts(e)} div ${t}L) = (${ts(l)} div ${t}L)"
      case Length(n) => (l, e, tag) =>
        s"${render(e, s"__seq$tag")} > ${render(l, s"__cnt$tag")} - ${n}L"
      case LengthBatch(n) => (l, e, tag) =>
        s"${render(e, s"__seq$tag")} > " +
          s"(${render(l, s"__cnt$tag")} div ${n}L) * ${n}L"
      case _ => refuseJoinSides()
    }
    val (lRule, rRule) = (rule(lw), rule(rw))
    if (!hasEqui(j.on))
      fail("a windowed stream-stream join needs an equality conjunct " +
        "in its on-clause (the join key that shards the band join; " +
        "a pure band join would be a nested loop at scale)")
    val Seq(la, ra) = Seq(j.leftAlias, j.rightAlias).map(_.getOrElse(
      fail("windowed join sides need aliases to qualify their columns")))
    def before(x: String, y: String): String =
      s"(${ts(x)} < ${ts(y)} or (${ts(x)} = ${ts(y)} and " +
        s"${render(x, "event_id")} < ${render(y, "event_id")}))"
    (lw, rw) match {
      case (_: Time, _: Time) => (la, ra, None)
      case _ =>
        val dir1 = s"(${before(ra, la)} and ${rRule(la, ra, "B")})"
        val dir2 = s"(${before(la, ra)} and ${lRule(ra, la, "A")})"
        (la, ra, Some(if (j.unidirectional) dir1 else s"($dir1 or $dir2)"))
    }
  }

  /** The range of `tl − tr` a windowed join over time / timeBatch sides
    * pairs: time ⋈ time's symmetric band [-Tl, Tr]; with a timeBatch
    * side, the [-T, T] hull of bucket co-membership (T the longer
    * side; [[joinBand]]'s residual refines it). `unidirectional` keeps
    * tl ≥ tr. */
  private[api] def timeHull(j: JoinStream, lw: WindowSpec,
      rw: WindowSpec): (Long, Long) = {
    def t(w: WindowSpec): Long = w match {
      case Time(t) => t
      case TimeBatch(t, _) => t
      case _ => refuseJoinSides()
    }
    val (lo, hi) = (lw, rw) match {
      case (_: Time, _: Time) => (-t(lw), t(rw))
      case _ => val h = math.max(t(lw), t(rw)); (-h, h)
    }
    (if (j.unidirectional) 0L else lo, hi)
  }

  /** Count-window join sides' arrival ranks: `a` gains `__seqA` (its
    * global arrival rank) and `__cntB` (the `b` arrivals before each
    * event), `b` gains `__seqB` and `__cntA` — the count twin of the
    * time join's band. All four come from ONE distributed prefix-sum
    * pass over the interleaved marks, NOT a single-task order-by-all
    * window (the r8 perf_weak; the guardGlobalWindow refusal is gone
    * with it). Rows range-partition ONCE on (ts_ns, event_id); per
    * partition, TWO running sums over the same exchange use opposite
    * __isB tie orders, so an event that appears on BOTH sides of a
    * self-join (identical (ts_ns, event_id) marks) never counts its
    * own twin as an other-side arrival "before" it — matching
    * [[joinBand]]'s strict order, under which a self-pair never joins.
    * Reading each side's own total at its own mark makes it the
    * arrival RANK (self-inclusive):
    *   A-mark: __seqA = cumA (desc tie: includes itself),
    *           __cntB = cumB (asc tie: B twin excluded);
    *   B-mark: __seqB = cumB (asc tie: includes itself),
    *           __cntA = cumA (desc tie: A twin excluded).
    * The partition-offset cumsum touches one row per PARTITION. */
  private[api] def arrivalRanks(a: DataFrame, b: DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val m0 = a.select(col("ts_ns"), col("event_id"), lit(0L).as("__isB"))
      .unionByName(b.select(col("ts_ns"), col("event_id"),
        lit(1L).as("__isB")))
      .repartitionByRange(col("ts_ns"), col("event_id"))
      .withColumn("__rpid", spark_partition_id())
    val wAsc = Window.partitionBy("__rpid")
      .orderBy(col("ts_ns"), col("event_id"), col("__isB"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy("__rpid")
      .orderBy(col("ts_ns"), col("event_id"), col("__isB").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = m0.groupBy("__rpid")
      .agg(sum(col("__isB")).as("__btot"),
        sum(lit(1L) - col("__isB")).as("__atot"))
      .withColumn("__boff", coalesce(sum(col("__btot")).over(
        Window.orderBy("__rpid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__aoff", coalesce(sum(col("__atot")).over(
        Window.orderBy("__rpid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__rpid").as("__opid"), col("__boff"), col("__aoff"))
    val marks = m0.withColumn("__cumB", sum(col("__isB")).over(wAsc))
      .withColumn("__cumA", sum(lit(1L) - col("__isB")).over(wDesc))
      .join(broadcast(offs), col("__rpid") === col("__opid"))
      .select(col("event_id"), col("__isB"),
        (col("__cumB") + col("__boff")).as("__cumB"),
        (col("__cumA") + col("__aoff")).as("__cumA"))
    val aCnt = marks.filter(col("__isB") === 0)
      .select(col("event_id").as("__aid"),
        col("__cumA").as("__seqA"), col("__cumB").as("__cntB"))
    val bCnt = marks.filter(col("__isB") === 1)
      .select(col("event_id").as("__bid"),
        col("__cumB").as("__seqB"), col("__cumA").as("__cntA"))
    (a.join(aCnt, a("event_id") === col("__aid")).drop("__aid"),
      b.join(bCnt, b("event_id") === col("__bid")).drop("__bid"))
  }

  /** A join query: unwindowed sides join on the on-clause; windowed
    * sides (time, length, timeBatch, lengthBatch on both) join on the
    * on-clause AND [[joinBand]]'s band, count sides first gaining
    * their [[arrivalRanks]]. */
  private[api] def compileJoin(spark: SparkSession, dir: String, ast: Ast,
                          j: JoinStream,
                          env: Map[String, DataFrame],
                          aggDefs: Map[String, AggDef] = Map.empty,
                          rate: Option[Rate] = None
                         ): DataFrame = {
    def side(ss: SingleStream, a: Option[String]): DataFrame = {
      if (aggDefs.contains(ss.table)) {
        // `from S join AggTable within … per 'grain'` — the enrichment
        // join over the grain cascade's stored table (all stored attrs
        // joinable/selectable); the rolled aggregate is tiny next to the
        // stream, so Catalyst broadcasts it
        val stored = aggStored(spark, dir, ss, aggDefs(ss.table), env)
        return a.fold(stored)(stored.alias)
      }
      if (ss.aggWithin.nonEmpty || ss.aggPer.nonEmpty)
        fail(s"within/per requires `define aggregation ${ss.table}` in " +
          "an app context")
      val b0 = loadTable(spark, dir, ss.table, env)
      val b1 = ss.filter.fold(b0)(f => applyFilter(spark, dir, b0, f, env))
      a.fold(b1)(b1.alias)
    }
    val joined = (j.left.window, j.right.window) match {
      case (None, None) =>
        side(j.left, j.leftAlias)
          .join(side(j.right, j.rightAlias), expr(sqlOf(j.on)), j.joinType)
      case (Some(lw), Some(rw)) =>
        val (la, ra, directional) = joinBand(j, lw, rw, (s, c) => s"$s.$c")
        directional match {
          case None =>
            // stream#window.time(Tl) ⋈ stream#window.time(Tr): a pair
            // (l, r) matches when each event lies within the OTHER
            // side's window — the symmetric band tl-tr ∈ [-Tl, Tr]
            // ([[timeHull]]), compiled as the on-condition AND the
            // band: with the equality conjunct [[joinBand]] requires,
            // a shuffled equi join with a range residual (the
            // watermarked stream-stream join's batch twin), never a
            // nested loop
            val (lo, hi) = timeHull(j, lw, rw)
            side(j.left.copy(window = None), j.leftAlias)
              .join(side(j.right.copy(window = None), j.rightAlias),
                expr(s"(${sqlOf(j.on)}) and ($la.ts_ns - $ra.ts_ns) " +
                  s"between ${lo}L and ${hi}L"), j.joinType)
          case Some(band) =>
            // every other pair of time / length / timeBatch /
            // lengthBatch sides: [[joinBand]]'s per-direction rule;
            // count sides read the arrival ranks [[arrivalRanks]] adds
            def arrivals(ss: SingleStream): DataFrame = {
              val df = side(ss.copy(window = None), None)
              Seq("ts_ns", "event_id").foreach(c =>
                if (!df.columns.contains(c))
                  fail(s"windowed join sides need '$c' for arrival " +
                    s"order; '${ss.table}' lost it"))
              df
            }
            val counted = Seq(lw, rw).exists {
              case _: Length | _: LengthBatch => true
              case _ => false
            }
            val (aS, bS) = (arrivals(j.left), arrivals(j.right))
            val (aF, bF) = if (counted) arrivalRanks(aS, bS) else (aS, bS)
            aF.alias(la).join(bF.alias(ra),
                expr(s"(${sqlOf(j.on)}) and $band"), j.joinType)
              .drop("__seqA", "__seqB", "__cntA", "__cntB")
        }
      case _ => refuseJoinSides()
    }
    // a group key whose select item is a SIDE-QUALIFIED ref (a.user_id
    // as user_id … group by user_id) must group by the qualified
    // column — the bare name is ambiguous when both join sides carry
    // it (the self-join shape); post-aggregation the key column is
    // single-part again, so downstream resolution is unchanged
    val expanded = expandStar(ast, joined.columns.distinct)
    val astG = expanded.copy(groupBy = expanded.groupBy.map { g =>
      itemsOf(expanded).collectFirst {
        case (it, a, false) if a == g => it.e } match {
        case Some(Ref(parts)) if parts.length > 1 => parts.mkString(".")
        case _ => g
      }
    })
    rate match {
      case None => selectOrAggregate(astG, joined, Nil, windowed = false)
      case Some(r) => rateOverJoin(astG, joined, j, r)
    }
  }

  /** A single-stream query: its filtered source, then one arm per
    * window type ([[WindowSpec]], arguments already checked by the
    * parser). Tumbling windows (timeBatch, lengthBatch, cron,
    * externalTimeBatch) group on their bucket; session goes through
    * [[sessionAgg]] as the live stage does; sliding windows (length,
    * time, externalTime, timeLength) become frames or band joins;
    * sort, unique and frequent retain rows before the select; delay
    * shifts event time; expression scans each key with the live
    * fold's [[retainWhile]] step. */
  private[api] def compileSingle(spark: SparkSession, dir: String, ast0: Ast,
                            s: SingleStream,
                            env: Map[String, DataFrame],
                            partKey: Option[String] = None): DataFrame = {
    val base0 = loadTable(spark, dir, s.table, env)
    val ast = expandStar(ast0, base0.columns)
    val base =
      s.filter.fold(base0)(f => applyFilter(spark, dir, base0, f, env))
    val items = itemsOf(ast)

    def grouped(implicitKeys: Seq[(String, Column)],
                df: DataFrame): DataFrame =
      selectOrAggregate(ast, df, implicitKeys, windowed = true)

    /** Distributed sliding frame over the GLOBAL total order (no
      * group by): anchors and data rows equi-join on a band BUCKET —
      * every data row duplicates into the (at most two) buckets whose
      * anchors can need it, the exact frame condition filters inside
      * the join, and each anchor's frame aggregates via the FoldAlg
      * components (so the full mergeable algebra, stdDev and
      * distinctCount included, works on global sliding frames). No
      * data-sized single-task window remains — the r9
      * guardGlobalWindow refusal on unpartitioned sliding shapes is
      * retired. Work is O(2n) join rows, each bucket a frame-width
      * slice, parallel across buckets. */
    def slidingBand(lenN: Option[Long], timeNs: Option[Long],
        timeAttr: String): DataFrame = {
      if (ast.having.nonEmpty) fail("having needs a tumbling window")
      val fp = FoldAlg.plan(items, Seq("__ark"))
      // No aggregate in the select → the frame is irrelevant: every
      // event projects its own attributes (Siddhi emits one output per
      // arrival either way). Plain projection, no rank, no join — the
      // r10 fail here was an accepted-surface regression vs the r9
      // sliding path, which compiled pass-through projections.
      if (fp.comps.isEmpty) return fp.finalized(base)
      // the anchor key: global arrival rank (unique); rows frames also
      // consume it as the band coordinate
      val ranked = globalRank(base, Seq(col("ts_ns"), col("event_id")),
        "__ark")
      def bucketOf(rk: String, ts: String): Column = lenN match {
        case Some(n2) => expr(s"($rk - 1) div ${n2}L")
        case None => expr(s"$ts div ${timeNs.get}L")
      }
      val anchors = ranked.withColumn("__ab", bucketOf("__ark", timeAttr))
      val data = ranked.select(col("__ark").as("__drk") +:
        col(timeAttr).as("__dts") +: fp.argCols(): _*)
        .withColumn("__db", explode(array(bucketOf("__drk", "__dts"),
          bucketOf("__drk", "__dts") + lit(1L))))
      val frameCond = (lenN.map(n2 =>
          col("__drk") >= col("__ark") - lit(n2 - 1) &&
            col("__drk") <= col("__ark")).toList ++
        timeNs.map(t =>
          col("__dts") >= col(timeAttr) - lit(t) &&
            col("__dts") <= col(timeAttr)).toList).reduce(_ && _)
      val agged = fp.partial(anchors.select(col("__ark"), col("__ab"),
          col(timeAttr))
        .join(data, col("__ab") === col("__db") && frameCond))
        .withColumnRenamed("__ark", "__grk")
      fp.finalized(anchors.join(agged, col("__ark") === col("__grk")))
    }

    def sliding(frame: String): DataFrame = {
      val part = if (ast.groupBy.isEmpty) ""
                 else s"partition by ${ast.groupBy.mkString(", ")} "
      val w = s"(${part}order by $frame)"
      // attach the frame at the AGGREGATE CALL, not around the whole item
      // expression — `round(sum(x), 2)` must render as
      // `round(sum(x) over w, 2)`, never `round(sum(x), 2) over w`
      def windowed(e: Expr): String = e match {
        case Call(None, n, _) if aggNames(n.toLowerCase) =>
          s"${sqlOf(e)} over $w"
        case Call(ns, n, args) =>
          renderCall(ns, n, args.length,
            args.map(x => if (containsAgg(x)) windowed(x) else sqlOf(x)))
        case Bin(op, l, r) =>
          val o = if (op == "==") "=" else op
          s"(${windowed(l)} $o ${windowed(r)})"
        case Not(x) => s"(NOT ${windowed(x)})"
        case Neg(x) => s"(- ${windowed(x)})"
        case other => sqlOf(other)
      }
      val cols = items.map { case (it, a, isAgg) =>
        if (isAgg) expr(windowed(it.e)).as(a)
        else expr(sqlOf(it.e)).as(a)
      }
      if (ast.having.nonEmpty) fail("having needs a tumbling window")
      base.select(cols: _*)
    }

    s.window match {
      case None => selectOrAggregate(ast, base, Nil, windowed = false)
      case Some(TimeBatch(tNs, offNs)) =>
        // optional start-time alignment (r17): bucket boundaries at
        // epoch + k·T + s. Epoch-aligned keeps the original integer
        // form exactly; the shifted form is safe for the engine's
        // non-negative event-time contract (ts_ns ≫ s, so truncating
        // div equals floor div)
        val wExpr =
          if (offNs == 0L) s"(ts_ns div ${tNs}L) * ${tNs / 1000000}L"
          else s"((((ts_ns - ${offNs}L) div ${tNs}L) * ${tNs}L) + " +
            s"${offNs}L) div 1000000L"
        val withW = base.withColumn("w_start_ms", expr(wExpr))
        grouped(Seq("w_start_ms" -> col("w_start_ms")), withW)
      case Some(LengthBatch(n)) =>
        // inside `partition with`, chunks count per key and the
        // window parallelizes across keys; the GLOBAL form's arrival
        // ranks ride the distributed prefix sum (the r9
        // guardGlobalWindow refusal is gone) — chunking is then a
        // plain rank consumer, floor(rank/N)
        val withC = partKey match {
          case Some(k) => base.withColumn("chunk_id", expr(
            s"(row_number() over (partition by $k " +
              s"order by ts_ns, event_id) - 1) div $n"))
          case None =>
            globalRank(base, Seq(col("ts_ns"), col("event_id")), "__rk")
              .withColumn("chunk_id", expr(s"(__rk - 1) div $n"))
              .drop("__rk")
        }
        grouped(Seq("chunk_id" -> col("chunk_id")), withC)
      case Some(Session(gap)) => sessionAgg(ast, base, gap)
      case Some(Length(n)) =>
        if (ast.groupBy.isEmpty) slidingBand(Some(n), None, "ts_ns")
        else sliding(s"ts_ns, event_id rows between ${n - 1} " +
          "preceding and current row")
      case Some(Time(t)) =>
        if (ast.groupBy.isEmpty) slidingBand(None, Some(t), "ts_ns")
        else sliding(s"ts_ns range between $t preceding and current row")
      case Some(ExternalTime(attr, t)) =>
        // sliding time window driven by a NAMED ns-epoch attribute
        // (engine twin: window_external_time); `time` drives off ts_ns
        if (ast.groupBy.isEmpty) slidingBand(None, Some(t), attr)
        else sliding(s"$attr range between $t preceding and current row")
      case Some(ExternalTimeBatch(attr, tNs)) =>
        val withW = base.withColumn("w_start_ms",
          expr(s"($attr div ${tNs}L) * ${tNs / 1000000}L"))
        grouped(Seq("w_start_ms" -> col("w_start_ms")), withW)
      case Some(w: Sort) =>
        // sort(N, attr[, 'asc'|'desc'] ...): retain the N first
        // events by the comparator. orderBy(...).limit(N) plans as a
        // DISTRIBUTED TakeOrdered (per-partition top-N + merge), never
        // a global sort — the shape that survives 100 TB
        val kept = base.orderBy(sortOrder(w, base.columns): _*)
          .limit(w.n.toInt)
        selectOrAggregate(ast, kept, Nil, windowed = false)
      case Some(u @ Unique(kind, attrs)) =>
        // dedup retention window: keep the first/last event per
        // distinct key value (engine twin: Windows uniqueFirst/Last) —
        // one row_number shuffle on the key, fully parallel.
        // unique:ever retains the LATEST event per key forever, so
        // its batch replay is exactly unique:last's. Composite keys
        // (r17 breadth audit: attributes past the first were
        // silently dropped) partition on every named attribute.
        windowKeys(u, attrs ++ Seq("ts_ns", "event_id"), base.columns)
        val o = if (kind == "first") "ts_ns, event_id"
                else "ts_ns desc, event_id desc"
        val kept = base.withColumn("__rn", expr(
            s"row_number() over (partition by " +
              s"${attrs.mkString(", ")} order by $o)"))
          .where(col("__rn") === 1).drop("__rn")
        selectOrAggregate(ast, kept, Nil, windowed = false)
      case Some(Frequent(n, attr)) =>
        // frequent(N, attr): retain events whose key is among the N
        // most frequent. Batch replay computes the EXACT top-N the
        // Misra–Gries window approximates (engine twin with sketch
        // bounds: Sketches.frequent); the counts table is tiny, so the
        // retention join broadcasts
        val top = base.groupBy(attr)
          .agg(count(lit(1)).as("__cnt"))
          .withColumn("__rk", expr(
            s"row_number() over (order by __cnt desc, $attr)"))
          .where(col("__rk") <= n.toInt)
          .select(attr)
        val kept = base.join(broadcast(top), Seq(attr), "left_semi")
        selectOrAggregate(ast, kept, Nil, windowed = false)
      case Some(Delay(tNs)) =>
        // `delay(T)`: events re-timestamped T later (engine twin:
        // Windows.delay). The shift lands BEFORE select, so a chained
        // app's downstream window buckets by the delayed time
        val shifted0 = base.withColumn("ts_ns", col("ts_ns") + lit(tNs))
        val shifted =
          if (base.columns.contains("ts"))
            shifted0.withColumn("ts",
              expr(s"timestampadd(MICROSECOND, ${tNs / 1000}L, ts)"))
          else shifted0
        selectOrAggregate(ast, shifted, Nil, windowed = false)
      case Some(Cron(_, ivNs)) =>
        // `cron('0 0/15 * * * ?')`: contents emitted on the cron marks
        // ⇒ aggregation per cron-aligned bucket (engine twin:
        // Extras.cronWindow)
        val withW = base.withColumn("cron_tick_ms",
          expr(s"(ts_ns div ${ivNs}L) * ${ivNs / 1000000}L"))
        grouped(Seq("cron_tick_ms" -> col("cron_tick_ms")), withW)
      case Some(TimeLength(tNs, n0)) =>
        // `timeLength(T, N)`: the window holds the LAST min(N,
        // #within-T) events (engine twin: Extras.timeLength). The
        // last-N buffer is a bounded rows frame (collect_list of at
        // most N tiny structs — scale-safe), and the time bound prunes
        // INSIDE it via a higher-order filter whose lambda compares
        // each buffered ts against the current row's; aggregates then
        // fold the pruned buffer. All codegen'd built-ins, no UDFs.
        val n = n0.toInt
        if (n > 4096)
          fail(s"timeLength($n) would materialize an $n-struct buffer " +
            "per output row — for large counts use time()/timeBatch()" +
            " (the time bound alone) instead")
        if (ast.groupBy.isEmpty)
          // global timeLength = the band join with BOTH bounds:
          // rank band (last N) ∩ time band (within T)
          return slidingBand(Some(n.toLong), Some(tNs), "ts_ns")
        val part = s"partition by ${ast.groupBy.mkString(", ")} "
        def refsIn(e: Expr): List[String] = e match {
          case Ref(p) => List(p.last)
          case Call(_, _, as) => as.flatMap(refsIn)
          case Bin(_, l, r) => refsIn(l) ++ refsIn(r)
          case Not(x) => refsIn(x)
          case Neg(x) => refsIn(x)
          case _ => Nil
        }
        val attrs = ("ts_ns" :: items.collect {
          case (it, _, true) => refsIn(it.e) }.flatten).distinct
        val fields = attrs.map(a => s"'$a', $a").mkString(", ")
        val frame = s"(${part}order by ts_ns, event_id " +
          s"rows between ${n - 1} preceding and current row)"
        val withWin = base
          .withColumn("__buf",
            expr(s"collect_list(named_struct($fields)) over $frame"))
          .withColumn("__win",
            expr(s"filter(__buf, s -> s.ts_ns >= ts_ns - ${tNs}L)"))
        def over(e: Expr): String = e match {
          case Call(None, "count", Nil) => "cast(size(__win) as bigint)"
          case Call(None, "sum", List(Ref(p))) =>
            s"aggregate(__win, cast(0.0 as double), " +
              s"(a, s) -> a + cast(s.${p.last} as double))"
          case Call(None, "avg", List(Ref(p))) =>
            s"(${over(Call(None, "sum", List(Ref(p))))} / size(__win))"
          case Call(None, "min", List(Ref(p))) =>
            s"array_min(transform(__win, s -> s.${p.last}))"
          case Call(None, "max", List(Ref(p))) =>
            s"array_max(transform(__win, s -> s.${p.last}))"
          case Call(None, nm, _) if aggNames(nm.toLowerCase) =>
            fail("timeLength aggregates are count()/sum/avg/min/max " +
              s"over a column (got '$nm')")
          case Call(ns2, nm, as2) =>
            renderCall(ns2, nm, as2.length, as2.map(over))
          case Bin(op, l, r) =>
            val o = if (op == "==") "=" else op
            s"(${over(l)} $o ${over(r)})"
          case Not(x) => s"(NOT ${over(x)})"
          case Neg(x) => s"(- ${over(x)})"
          case otherE => sqlOf(otherE)
        }
        if (ast.having.nonEmpty) fail("having needs a tumbling window")
        withWin.select(items.map { case (it, a, isAgg) =>
          if (isAgg) expr(over(it.e)).as(a) else expr(sqlOf(it.e)).as(a)
        }: _*)
      case Some(Expression(ret)) =>
        // retain-while window (engine twin: Extras.expressionWindow):
        // [[retainWhile]] per arrival, select aggregates recomputed
        // over the retained buffer (whose size the predicate itself
        // bounds). A keyed fold — parallel over keys, one exchange.
        val key = (ast.groupBy, partKey) match {
          case (k :: Nil, _) => k
          case (Nil, Some(k)) => k
          case _ => fail("expression window (v1) needs exactly one " +
            "group by key to partition the fold")
        }
        if (ast.having.nonEmpty) fail("having needs a tumbling window")
        implicit val enc: Encoder[Row] = evRows(items)
        evsOf(base, s.table)
          .groupByKey(e => String.valueOf(field(e, key)))(Encoders.STRING)
          .flatMapGroups((_, evs) =>
            scanKey(evs, Vector.empty, items, retainWhile(ret))._2.iterator)
          .toDF()
    }
  }

  /** An aggregation read (`from A within lo, hi per 'grain' select …`)
    * compiled as the Siddhi incremental-aggregation CASCADE (engine twin:
    * graft.engine.Aggregates.incrementalAgg / incrementalCascade): the
    * FINEST defined grain is the stored partial table (sum/count/min/max
    * partials — avg is stored as sum+count, never averaged early), and
    * the requested `per` grain is a rollup OF THOSE PARTIALS, never a
    * re-scan at the coarse grain. The `within` range is pushed down to
    * the source scan as a row-level time filter (grain-aligned, so
    * parquet min/max pruning applies) — at 100 TB a `within 1 day` read
    * touches one day of row groups, not the corpus. */
  /** The STORED table of an aggregation read (`bucket_start_ms` + group
    * keys + defined aliases) at the requested grain and range — used
    * directly by [[compileAggQuery]] and as a JOIN SIDE (the reference's
    * `from S join AggTable within … per …` enrichment idiom). */
  /** `define aggregation A from S[f] select ... group by ... aggregate
    * by ts every sec ... day` — the parser body after `define
    * aggregation` is consumed (shared by the batch compile and the
    * live deployment). */
  private[api] def parseAggDefRest(p: P): (String, AggDef) = {
    val aname = p.ident()
    p.eatKw("from")
    val tbl = p.ident()
    val filt = if (p.trySym("[")) {
      val e = p.expr(); p.eatSym("]"); Some(e)
    } else None
    p.eatKw("select")
    val sel = p.selItems()
    val grp = if (p.tryKw("group")) {
      p.eatKw("by")
      val g = List.newBuilder[String]
      g += p.ident()
      while (p.trySym(",")) g += p.ident()
      g.result()
    } else Nil
    p.eatKw("aggregate"); p.eatKw("by")
    val tsAttr = p.ident()
    p.eatKw("every")
    val g1 = grainKey(p.ident())
    val grains: List[String] =
      if (p.trySym(".")) { // `sec ... day` range over the ladder
        p.eatSym("."); p.eatSym(".")
        val g2 = grainKey(p.ident())
        val names = grainLadder.map(_._1)
        val (i1, i2) = (names.indexOf(g1), names.indexOf(g2))
        if (i1 > i2) fail(s"grain range '$g1 ... $g2' is inverted")
        names.slice(i1, i2 + 1)
      } else {
        val gs = List.newBuilder[String]
        gs += g1
        while (p.trySym(",")) gs += grainKey(p.ident())
        val names = grainLadder.map(_._1)
        gs.result().distinct.sortBy(names.indexOf)
      }
    (aname, AggDef(tbl, filt, sel, grp, tsAttr, grains))
  }

  /** Validate + resolve an aggregation read's `per` grain and `within`
    * range (shared by the batch read and the live deployment). */
  private[api] def aggReadSpec(s: SingleStream, adef: AggDef)
      : (Long, Long, Long) = {
    val per = grainKey(s.aggPer.getOrElse(
      fail(s"reading aggregation '${s.table}' needs `per '<grain>'`")))
    if (!adef.grains.contains(per))
      fail(s"per '$per' is outside the defined grain set " +
        s"(${adef.grains.mkString(" ... ")})")
    val (loE, hiE) = s.aggWithin.getOrElse(
      fail(s"reading aggregation '${s.table}' needs `within lo, hi`"))
    def boundMs(e: Expr): Long = e match {
      case Num(t) => t.toLong
      case Str(v) => java.time.LocalDateTime.parse(v,
          java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case other => fail("within bound must be an epoch-ms number or " +
        s"'yyyy-MM-dd HH:mm:ss' literal, got '${sqlOf(other)}'")
    }
    val (lo, hi) = (boundMs(loE), boundMs(hiE))
    if (hi <= lo) fail(s"within range is empty: $lo ... $hi")
    if (s.filter.nonEmpty || s.window.nonEmpty)
      fail("an aggregation read takes no filter/window (v1)")
    (grainMsOf(per), lo, hi)
  }

  /** The live fold algebra — one (rewrite, partial, merge) component
    * recipe per MERGEABLE aggregate. Its entry point [[FoldAlg.plan]]
    * turns select items into a [[FoldAlg.Plan]]: the aggregate
    * sub-calls rewritten to components, the `<base>_x` argument
    * columns, the keyed partial, the `<=>`-keyed merge and the
    * finalize step. Its callers: [[flushPiecesOf]] (windowed table
    * DML, rate over timeBatch), the live windowed-join aggregation,
    * the enrichment aggregation tail (`aggTail`), the live `frequent`
    * window, and the batch sliding band (`slidingBand`, partials
    * only). The define-aggregation live grain cascade merges its state
    * through the same [[FoldAlg.keyedMerge]] and [[FoldAlg.mergeCols]].
    * Extending an aggregate here deploys it on all of them.
    *
    *   - count/sum/min/max — one partial column, trivially mergeable
    *     (sum partials keep SQL null semantics: null iff all inputs
    *     null; least/greatest skip single-side nulls);
    *   - avg — (sum, count) components, finalized as s/n;
    *   - stdDev — Chan/Welford moment components (n, mean, M2) with
    *     M2 = var_pop·n, merged by the pairwise update rule
    *     (Chan et al. 1979's parallel-variance merge — numerically
    *     stable at any merge depth, the property that matters when a
    *     long-running deployment folds millions of micro-batches);
    *     finalized as sqrt(M2/n) — POPULATION stddev, Siddhi's
    *     stdDev;
    *   - distinctCount — exact value-set partials (collect_set),
    *     merged by array union, finalized as cardinality. Per-group
    *     state grows with the distinct-value count — the documented
    *     cost of the exact form (the approx twin is the HLL-backed
    *     `sketch_approx_distinct`). */
  private[api] object FoldAlg {
    /** One aggregate sub-call: `base` names its partial columns,
      * `arg` its argument (absent only for bare count()). */
    final case class Comp(base: String, kind: String, arg: Option[Expr])

    /** A group-by-less aggregate folds under this one constant key
      * (a single component row of state). */
    val NoKey: Seq[String] = Seq("__k")

    /** Select items as a keyed mergeable fold over `keys`: `comps` are
      * the aggregate sub-calls, `finals` each item's Expr over the
      * merged components, `having` applies once over the finals. */
    final case class Plan(keys: Seq[String], comps: Seq[Comp],
        finals: Seq[(String, Expr)], having: Option[Expr]) {
      /** (`<base>_x` column, argument) per component with an argument. */
      def args: Seq[(String, Expr)] =
        comps.flatMap(c => c.arg.map(c.base + "_x" -> _))
      def argCols(render: Expr => String = sqlOf): Seq[Column] =
        args.map { case (c, e) => expr(render(e)).as(c) }
      def keyCols: Seq[Column] =
        if (keys == NoKey) Seq(lit(0L).as("__k")) else keys.map(col)
      /** One batch's partials: group `df` (keys + argument columns) by
        * the keys. */
      def partial(df: DataFrame): DataFrame = {
        val aggs = comps.flatMap(c => partialCols(c.kind, c.base,
          c.arg.map(_ => col(s"${c.base}_x"))))
        df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
      }
      /** Accumulated partials merged with a batch's, componentwise. */
      def merge(acc: DataFrame, u: DataFrame): DataFrame =
        keyedMerge(acc, u, keys, comps.flatMap(c => mergeCols(c.kind, c.base)))
      /** The finals (after the `lead` columns) over merged partials. */
      def finalized(acc: DataFrame, lead: Seq[Column] = Nil): DataFrame = {
        val fin = acc.select(lead ++ finals.map { case (a, e) =>
          expr(sqlOf(e)).as(a) }: _*)
        having.fold(fin)(h => fin.where(expr(sqlOf(h))))
      }
    }

    /** The one entry point: every aggregate sub-call in the aggregate
      * `items` becomes a component (`__c<i>`) and its final Expr reads
      * the merged partials; a non-aggregate item finalizes as
      * `keyFinal` (by default its own Expr). */
    def plan(items: Seq[(SelItem, String, Boolean)], keys: Seq[String],
        keyFinal: (SelItem, String) => Expr = (it, _) => it.e,
        having: Option[Expr] = None): Plan = {
      val comps = scala.collection.mutable.ArrayBuffer.empty[Comp]
      def rw(e: Expr): Expr = e match {
        case Call(None, n, args0) if aggNames(n.toLowerCase) =>
          val c = Comp(s"__c${comps.length}", n.toLowerCase,
            args0.headOption)
          if (c.kind != "count" && c.arg.isEmpty)
            fail(s"${c.kind}(...) needs an argument")
          comps += c
          rewrite(c.kind, c.base)
        case Call(ns2, n, as2) => Call(ns2, n, as2.map(rw))
        case Bin(op, l, r) => Bin(op, rw(l), rw(r))
        case Not(x) => Not(rw(x))
        case Neg(x) => Neg(rw(x))
        case other => other
      }
      val finals = items.map { case (it, a, isAgg) =>
        a -> (if (isAgg) rw(it.e) else keyFinal(it, a)) }
      Plan(keys, comps.toList, finals, having)
    }

    /** Fold keys that must be exactly the aliases of the non-aggregate
      * select items (`what` names the surface); [[NoKey]] when there
      * are none. */
    def groupKeys(what: String, groupBy: List[String],
        items: Seq[(SelItem, String, Boolean)]): Seq[String] = {
      val keyAliases = items.filter(!_._3).map(_._2)
      if (groupBy.sorted != keyAliases.sorted.toList)
        fail(s"$what (v1) groups by exactly the aliases of its " +
          s"non-aggregate select items (non-aggregate " +
          s"[${keyAliases.mkString(", ")}], group by " +
          s"[${groupBy.mkString(", ")}])")
      if (keyAliases.isEmpty) NoKey else keyAliases
    }

    /** The one keyed state merge: accumulated (`t`) and batch (`u`)
      * partials full-outer joined on `<=>` keys — so a null group key
      * merges with itself across triggers — keys coalesced, then the
      * `merged` component columns. */
    def keyedMerge(acc: DataFrame, u: DataFrame, keys: Seq[String],
        merged: Seq[Column]): DataFrame =
      acc.as("t").join(u.as("u"),
          keys.map(k => col(s"t.$k") <=> col(s"u.$k")).reduce(_ && _),
          "full_outer")
        .select(keys.map(k =>
          coalesce(col(s"u.$k"), col(s"t.$k")).as(k)) ++ merged: _*)

    /** Final-stage Expr over the merged partial columns of `base`. */
    private def rewrite(kind: String, base: String): Expr = kind match {
      case "count" | "sum" | "min" | "max" => Ref(List(base))
      case "avg" => Bin("/", Ref(List(base + "s")), Ref(List(base + "n")))
      case "stddev" => Call(Some("math"), "sqrt",
        List(Bin("/", Ref(List(base + "q")), Ref(List(base + "n")))))
      case "distinctcount" => // cast: count(DISTINCT) is bigint
        Call(None, "convert", List(
          Call(Some("list"), "size", List(Ref(List(base)))), Str("long")))
    }
    /** One micro-batch's partial agg columns; `x` is the argument
      * column (absent only for bare count()). */
    private def partialCols(kind: String, base: String,
        x: Option[Column]): Seq[Column] = kind match {
      case "count" => Seq(x.fold(count(lit(1)))(count).as(base))
      case "sum" => Seq(sum(x.get).as(base))
      case "min" => Seq(min(x.get).as(base))
      case "max" => Seq(max(x.get).as(base))
      case "avg" => Seq(sum(x.get).as(base + "s"),
        count(x.get).as(base + "n"))
      case "stddev" => Seq(count(x.get).as(base + "n"),
        avg(x.get).as(base + "m"),
        (var_pop(x.get) * count(x.get)).as(base + "q"))
      case "distinctcount" => Seq(collect_set(x.get).as(base))
    }
    /** Componentwise merge of accumulated (`t.*`) and batch (`u.*`)
      * partials — each output column keeps the partial's name. */
    def mergeCols(kind: String, base: String): Seq[Column] = {
      def add(c: String) = (coalesce(col(s"t.$c"), lit(0)) +
        coalesce(col(s"u.$c"), lit(0))).as(c)
      def addSum(c: String) =
        when(col(s"t.$c").isNull && col(s"u.$c").isNull, lit(null))
          .otherwise(coalesce(col(s"t.$c"), lit(0)) +
            coalesce(col(s"u.$c"), lit(0))).as(c)
      kind match {
        case "count" => Seq(add(base))
        case "sum" => Seq(addSum(base))
        case "min" => Seq(least(col(s"t.$base"), col(s"u.$base"))
          .as(base))
        case "max" => Seq(greatest(col(s"t.$base"), col(s"u.$base"))
          .as(base))
        case "avg" => Seq(addSum(base + "s"), add(base + "n"))
        case "stddev" =>
          // Chan pairwise update: n = n₁+n₂; m = m₁ + δ·n₂/n;
          // M2 = M2₁ + M2₂ + δ²·n₁n₂/n — a single-side-absent merge
          // degenerates to the present side
          val nt = coalesce(col(s"t.${base}n"), lit(0L))
          val nu = coalesce(col(s"u.${base}n"), lit(0L))
          val n = nt + nu
          val mt = coalesce(col(s"t.${base}m"), lit(0d))
          val mu = coalesce(col(s"u.${base}m"), lit(0d))
          Seq(
            add(base + "n"),
            when(n === 0, lit(null))
              .otherwise(mt + (mu - mt) * nu / n).as(base + "m"),
            when(n === 0, lit(null))
              .otherwise(coalesce(col(s"t.${base}q"), lit(0d)) +
                coalesce(col(s"u.${base}q"), lit(0d)) +
                when(nt === 0 || nu === 0, lit(0d))
                  .otherwise(pow(mu - mt, 2) * nt * nu / n))
              .as(base + "q"))
        case "distinctcount" =>
          Seq(when(col(s"t.$base").isNull, col(s"u.$base"))
            .when(col(s"u.$base").isNull, col(s"t.$base"))
            .otherwise(array_union(col(s"t.$base"), col(s"u.$base")))
            .as(base))
      }
    }
  }

  // ---- mergeable APPROX percentile (quantized run-length histogram,
  // DDSketch-flavored): values quantize to 3 significant digits
  // (relative error ≤ 5e-4 — far inside the 5% sketch-gate tolerance
  // contract), a group's partial is the SORTED (q, cnt) run-length
  // pair array — O(distinct quantized values) state, never O(rows) —
  // merging is a linear sorted-run re-compression (exactly
  // associative/commutative, so the grain cascade and the live
  // bucket-merge fold are chunking-invariant by construction), and
  // the final interpolates at Spark's percentile position between
  // the bracketing quantized ranks (see pctlFinalSql). The
  // `transform(array(x),
  // v -> ...)` wrappers are SQL let-bindings: they evaluate each
  // sub-relation once instead of once per lambda step.
  private[graft] def pctlPairsType = "array<struct<q: double, cnt: bigint>>"

  /** Hard cap on a percentile partial's pair count. 3-significant-
    * digit quantization is ~900 quanta per decade, so a pathological
    * value distribution (log-uniform over 12 decades ≈ 10 800 quanta)
    * would otherwise balloon fold state; at 4096 the cap only ever
    * engages beyond ~4.5 decades of spread, and collapsing f =
    * ⌈size/K⌉ adjacent quanta to their midpoint moves any rank by at
    * most half a run's span (≤ f · 0.5 % relative — far inside the
    * 5 % sketch tolerance for the f ≤ 8 of any real spread). Below
    * the cap the pair algebra is exactly associative; above it the
    * collapse is deterministic per input, so results stay inside the
    * tolerance contract under any chunking. */
  private[graft] def pctlCapK = 4096

  /** Collapse a sorted (q, cnt) pair array to at most [[pctlCapK]]
    * pairs: every f consecutive quanta become one pair at the run's
    * midpoint q with the run's summed count. Identity below the cap. */
  private[graft] def pctlCapSql(psExpr: String): String =
    s"""element_at(transform(array($psExpr), ps0 ->
       |  if(size(ps0) <= $pctlCapK, ps0,
       |    element_at(transform(array(cast(ceil(size(ps0) /
       |        cast($pctlCapK as double)) as int)), f ->
       |      transform(sequence(1, cast(ceil(size(ps0) /
       |          cast(f as double)) as int)), j ->
       |        named_struct(
       |          'q', element_at(ps0, least((j - 1) * f +
       |            cast(ceil(f / 2.0) as int), size(ps0))).q,
       |          'cnt', aggregate(slice(ps0, (j - 1) * f + 1, f),
       |            0L, (a, s) -> a + s.cnt)))), 1))), 1)""".stripMargin

  /** 3-significant-digit quantization of a value expression
    * (round's scale must be foldable, so the power of ten is
    * explicit: q = round(x / 10^(d-2)) · 10^(d-2), d = ⌊log10|x|⌋). */
  private[graft] def pctlQuantSql(x: String): String =
    s"case when $x = 0D then 0D else " +
      s"element_at(transform(array(" +
      s"power(10D, floor(log10(abs($x))) - 2D)), p -> " +
      s"round($x / p) * p), 1) end"

  /** Compress a SORTED array<double> into run-length (q, cnt) pairs,
    * capped at [[pctlCapK]]. */
  private[graft] def pctlCompressSql(vsExpr: String): String = pctlCapSql(
    s"""element_at(transform(array($vsExpr), vs ->
       |  if(size(vs) = 0, cast(array() as $pctlPairsType),
       |    element_at(transform(array(filter(sequence(1, size(vs)),
       |        i -> i = size(vs)
       |          OR element_at(vs, i) != try_element_at(vs, i + 1))), idx ->
       |      transform(idx, (e, j) -> named_struct(
       |        'q', element_at(vs, e),
       |        'cnt', cast(e - if(j = 0, 0, element_at(idx, j))
       |          as bigint)))), 1))), 1)""".stripMargin)

  /** Merge a SORTED (q, cnt) pair array: collapse equal-q runs by
    * summing counts (linear — each element lands in one slice),
    * capped at [[pctlCapK]]. */
  private[graft] def pctlMergeSql(psExpr: String): String = pctlCapSql(
    s"""element_at(transform(array($psExpr), ps ->
       |  if(size(ps) = 0, cast(array() as $pctlPairsType),
       |    element_at(transform(array(filter(sequence(1, size(ps)),
       |        i -> i = size(ps)
       |          OR element_at(ps, i).q != try_element_at(ps, i + 1).q)), idx ->
       |      transform(idx, (e, j) -> named_struct(
       |        'q', element_at(ps, e).q,
       |        'cnt', aggregate(
       |          slice(ps, if(j = 0, 1, element_at(idx, j) + 1),
       |            e - if(j = 0, 0, element_at(idx, j))),
       |          0L, (a, s) -> a + s.cnt)))), 1))), 1)""".stripMargin)

  /** Interpolated percentile from merged (q, cnt) pairs at `frac` —
    * Spark's percentile position (1 + f·(n−1)) between the bracketing
    * ranks, so the only approximation left is the 3-significant-digit
    * quantization (vital for SMALL groups, where nearest-rank vs
    * interpolation diverges by a whole value gap). */
  private[graft] def pctlFinalSql(mExpr: String, frac: Double): String =
    s"""element_at(transform(array($mExpr), m ->
       |  if(size(m) = 0, cast(null as double),
       |    element_at(transform(array(cast(1D + ${frac}D *
       |        (aggregate(m, 0L, (a, e) -> a + e.cnt) - 1D)
       |        as double)), pos ->
       |      element_at(transform(array(aggregate(m,
       |          named_struct('c', 0L, 'lo', cast(null as double),
       |            'hi', cast(null as double)),
       |          (a, e) -> named_struct(
       |            'c', a.c + e.cnt,
       |            'lo', if(a.lo is null AND a.c + e.cnt >=
       |              cast(floor(pos) as bigint), e.q, a.lo),
       |            'hi', if(a.hi is null AND a.c + e.cnt >=
       |              cast(ceil(pos) as bigint), e.q, a.hi)))), r ->
       |        r.lo + (pos - floor(pos)) * (r.hi - r.lo)), 1)), 1))),
       |  1)""".stripMargin

  /** The percentile fraction from the call's second argument. */
  private def pctlFracOf(args: List[Expr]): Double = args match {
    case _ :: Num(p) :: Nil =>
      val v = p.toDouble
      if (v <= 0 || v > 100) fail(s"percentile(x, p): p in (0, 100]")
      v / 100.0
    case _ => fail("percentile takes (value, p) with a literal p " +
      "(e.g. percentile(value, 50.0))")
  }

  /** Partial / combine / final column triples per defined select item
    * — the algebraic decomposition that makes the grain cascade (and
    * the live bucket-merge) correct: partials live at the FINEST
    * grain, any coarser read (or a later micro-batch) combines them. */
  private[api] def aggPlanCols(adef: AggDef)
      : (Seq[Column], Seq[Column], Map[String, Column]) = {
    val keys = adef.groupBy
    val partials = List.newBuilder[Column]
    val combines = List.newBuilder[Column]
    val finals = List.newBuilder[(String, Column)]
    adef.select.zipWithIndex.foreach { case (it, i) =>
      val a = alias(it, i)
      it.e match {
        case Ref(k :: Nil) if keys.contains(k) => () // group key
        case Call(None, fn, args) =>
          def argSql = sqlOf(args.head)
          fn.toLowerCase match {
            case "sum" =>
              partials += expr(s"sum($argSql)").as(s"__p_$a")
              combines += sum(col(s"__p_$a")).as(a)
              finals += a -> col(a)
            case "count" =>
              partials += (if (args.isEmpty) count(lit(1)).as(s"__p_$a")
                           else expr(s"count($argSql)").as(s"__p_$a"))
              combines += sum(col(s"__p_$a")).as(a)
              finals += a -> col(a)
            case "min" =>
              partials += expr(s"min($argSql)").as(s"__p_$a")
              combines += min(col(s"__p_$a")).as(a)
              finals += a -> col(a)
            case "max" =>
              partials += expr(s"max($argSql)").as(s"__p_$a")
              combines += max(col(s"__p_$a")).as(a)
              finals += a -> col(a)
            case "avg" => // stored as sum+count, finalized at read grain
              partials += expr(s"sum($argSql)").as(s"__pa_${a}s")
              partials += expr(s"count($argSql)").as(s"__pa_${a}n")
              combines += sum(col(s"__pa_${a}s")).as(s"__s_$a")
              combines += sum(col(s"__pa_${a}n")).as(s"__c_$a")
              finals += a -> (col(s"__s_$a") / col(s"__c_$a")).as(a)
            case "stddev" => // Chan moments (n, mean, M2) per bucket
              partials += expr(s"count($argSql)").as(s"__pd_${a}n")
              partials += expr(s"avg($argSql)").as(s"__pd_${a}m")
              partials += expr(s"var_pop($argSql) * count($argSql)")
                .as(s"__pd_${a}q")
              // rollup across buckets via the moment-sum identity:
              // M2 = Σ(q + n·m²) − (Σ n·m)² / Σn
              combines += sum(col(s"__pd_${a}n")).as(s"__n_$a")
              combines += sum(col(s"__pd_${a}n") * col(s"__pd_${a}m"))
                .as(s"__s1_$a")
              combines += sum(col(s"__pd_${a}q") + col(s"__pd_${a}n") *
                col(s"__pd_${a}m") * col(s"__pd_${a}m")).as(s"__s2_$a")
              finals += a -> when(col(s"__n_$a") === 0, lit(null))
                .otherwise(sqrt(greatest(lit(0d), (col(s"__s2_$a") -
                  col(s"__s1_$a") * col(s"__s1_$a") / col(s"__n_$a")) /
                  col(s"__n_$a")))).as(a)
            case "distinctcount" => // exact value-set partials
              partials += expr(s"collect_set($argSql)").as(s"__p_$a")
              combines += expr("cast(size(array_distinct(flatten(" +
                s"collect_list(__p_$a)))) as bigint)").as(a)
              finals += a -> col(a)
            case "percentile" => // mergeable APPROX (quantized
              // run-length histogram; see pctl*Sql above) — the exact
              // form stays a batch aggregate (agg_percentile); the
              // gate contract is sketch_approx_quantile's tolerance
              val frac = pctlFracOf(args)
              partials += expr(pctlCompressSql(
                s"sort_array(collect_list(${pctlQuantSql(argSql)}))"))
                .as(s"__p_$a")
              combines += expr(pctlMergeSql(
                s"sort_array(flatten(collect_list(__p_$a)))"))
                .as(s"__m_$a")
              finals += a -> expr(pctlFinalSql(s"__m_$a", frac)).as(a)
            case other => fail(s"aggregation definitions support " +
              "sum/count/min/max/avg/stdDev/distinctCount/percentile" +
              s"(approx), got '$other'")
          }
        case _ => fail(s"aggregation select item '${sqlOf(it.e)}' must " +
          "be a group key or an aggregate call")
      }
    }
    val pCols = partials.result()
    if (pCols.isEmpty) fail("aggregation definition has no aggregates")
    (pCols, combines.result(), finals.result().toMap)
  }

  /** Componentwise merge of two finest-grain partial tables aliased
    * `t` (accumulated state) and `u` (the batch's partials), for the
    * LIVE fold: the [[FoldAlg]] merge of each partial named
    * `__p_<alias>` — avg's `__pa_<alias>s`/`n` and stdDev's
    * `__pd_<alias>n`/`m`/`q` under their own prefixes, so no alias can
    * make two partial names equal — plus the percentile pair-array
    * merge. */
  private[api] def aggMergeCols(adef: AggDef): Seq[Column] =
    adef.select.zipWithIndex.flatMap { case (it, i) =>
      val a = alias(it, i)
      it.e match {
        case Ref(k :: Nil) if adef.groupBy.contains(k) => Nil
        case Call(None, fn, _) => fn.toLowerCase match {
          case "avg" => FoldAlg.mergeCols("avg", s"__pa_$a")
          case "stddev" => FoldAlg.mergeCols("stddev", s"__pd_$a")
          case k @ ("sum" | "count" | "min" | "max" | "distinctcount") =>
            FoldAlg.mergeCols(k, s"__p_$a")
          case "percentile" =>
            // concat the two sorted pair arrays (absent side empty),
            // re-sort, collapse equal-q runs — linear, associative
            Seq(expr(pctlMergeSql(
              s"sort_array(concat(" +
                s"coalesce(t.__p_$a, cast(array() as $pctlPairsType)), " +
                s"coalesce(u.__p_$a, cast(array() as $pctlPairsType))))"))
              .as(s"__p_$a"))
          case _ => Nil // aggPlanCols already diagnosed
        }
        case _ => Nil
      }
    }

  /** Finest-grain partial table of `src` (already schema-checked):
    * one row per (bucket, group keys) with the partial columns. */
  private[api] def aggGrainPartial(src0: DataFrame, adef: AggDef,
      pCols: Seq[Column]): DataFrame = {
    if (!src0.columns.contains(adef.tsAttr))
      fail(s"aggregation timestamp attribute '${adef.tsAttr}' is not a " +
        s"column of '${adef.source}' (nanosecond epoch expected)")
    val src = adef.filter.fold(src0)(f => src0.where(expr(sqlOf(f))))
    val finestMs = grainMsOf(adef.grains.head)
    val ts = adef.tsAttr
    // `__gb` (grain bucket), NOT `__b` — the live fold runner uses
    // `__b` for its hash-bucket parquet partitioning and would
    // clobber a same-named state column
    src.withColumn("__gb",
        expr(s"($ts div ${finestMs * 1000000L}L) * ${finestMs}L"))
      .groupBy(col("__gb") +: adef.groupBy.map(col): _*)
      .agg(pCols.head, pCols.tail: _*)
  }

  /** Roll a finest-grain partial table up to the read grain, bound it
    * by the within range, finalize derived aggregates. */
  private[api] def aggRollUp(grainTable: DataFrame, adef: AggDef,
      perMs: Long, lo: Long, hi: Long, cCols: Seq[Column],
      fMap: Map[String, Column]): DataFrame = {
    val keys = adef.groupBy
    val rolled = grainTable
      .withColumn("__bp", expr(s"(__gb div ${perMs}L) * ${perMs}L"))
      .groupBy(col("__bp") +: keys.map(col): _*)
      .agg(cCols.head, cCols.tail: _*)
      .withColumnRenamed("__bp", "bucket_start_ms")
      .where(col("bucket_start_ms") >= lo && col("bucket_start_ms") < hi)
    // finalize derived aggregates (avg = sum/count), keep keys
    rolled.select(col("bucket_start_ms") +:
      (keys.map(col) ++ adef.select.zipWithIndex.map { case (it, i) =>
        val a = alias(it, i)
        it.e match {
          case Ref(k :: Nil) if keys.contains(k) => col(k)
          case _ => fMap(a)
        }
      }): _*)
  }

  private[api] def aggStored(spark: SparkSession, dir: String,
      s: SingleStream, adef: AggDef,
      env: Map[String, DataFrame]): DataFrame = {
    val (perMs, lo, hi) = aggReadSpec(s, adef)
    val (pCols, cCols, fMap) = aggPlanCols(adef)
    val src0 = loadTable(spark, dir, adef.source, env)
    if (!src0.columns.contains(adef.tsAttr))
      fail(s"aggregation timestamp attribute '${adef.tsAttr}' is not a " +
        s"column of '${adef.source}' (nanosecond epoch expected)")
    // push the within range to the scan: a per-grain bucket B survives
    // iff lo <= B < hi; its rows have ts in [B, B + per), so the row
    // bound is [ceil(lo/per)*per, (floor((hi-1)/per)+1)*per) — aligned,
    // exact, and pushdown-visible
    val rowLoNs = ((lo + perMs - 1) / perMs) * perMs * 1000000L
    val rowHiNs = (((hi - 1) / perMs) + 1) * perMs * 1000000L
    val ranged = src0.where(col(adef.tsAttr) >= rowLoNs &&
      col(adef.tsAttr) < rowHiNs)
    val grainTable = aggGrainPartial(ranged, adef, pCols)
    aggRollUp(grainTable, adef, perMs, lo, hi, cCols, fMap)
  }

  private[api] def compileAggQuery(spark: SparkSession, dir: String, ast: Ast,
      s: SingleStream, adef: AggDef,
      env: Map[String, DataFrame]): DataFrame = {
    if (ast.groupBy.nonEmpty || ast.having.nonEmpty)
      fail("an aggregation read is a projection over stored attributes " +
        "(no group by / having — grouping happened at definition time)")
    val stored = aggStored(spark, dir, s, adef, env)
    // the read's select is a projection over bucket_start_ms + stored attrs
    val items = itemsOf(ast)
    items.foreach { case (_, a, isAgg) =>
      if (isAgg) fail("an aggregation read selects stored attributes " +
        s"(no re-aggregation, v1): '$a'")
    }
    stored.select(col("bucket_start_ms") +: items.map { case (it, a, _) =>
      expr(sqlOf(it.e)).as(a)
    }: _*)
  }

  /** Pattern clause → (builder, select extractors, output schema) —
    * shared by the batch plan path ([[compilePattern]] → selectPlan) and
    * the live deployment path ([[deployAppOn]] → selectStream). */
  private[api] def patternParts(ast: Ast, pt: PatternStream)
      : (Patterns.PatternBuilder,
         List[(String, String, String, Cep.Bindings => Any)],
         Seq[(String, DataType)]) = {
    if (ast.groupBy.nonEmpty || ast.having.nonEmpty)
      fail("group by / having do not apply to pattern clauses")
    pt.steps.foreach { st =>
      val tbls = st match {
        case PatCond(_, t, _, _, _) => Seq(t)
        case PatAbsent(t, _, _) => Seq(t)
        case PatPair(_, _, t1, _, _, t2, _) => Seq(t1, t2)
      }
      tbls.foreach { tbl =>
        if (!tbl.equalsIgnoreCase("events"))
          fail(s"pattern streams read 'events', got '$tbl'")
      }
    }
    pt.steps.head match {
      case _: PatAbsent => fail("a pattern cannot start with an absence")
      case _: PatPair => fail("a logical pair starts from the second " +
        "step (v1)")
      case _: PatCond => ()
    }
    val bindings = pt.steps.flatMap {
      case PatCond(b, _, _, _, _) => Seq(b)
      case PatPair(_, b1, _, _, b2, _, _) => Seq(b1, b2)
      case _: PatAbsent => Nil
    }.toSet
    // extractor per select item — picks the bound event(s): head for
    // plain refs, position/last for indexed refs (a quantified binding
    // holds several events); an UNBOUND declared binding (the untaken
    // branch of an or-pair) and out-of-range indexes yield null, the
    // reference's missing-event semantics, so `coalesce(e2.f, e3.f)`
    // projects whichever branch matched
    def extractorOf(e: Expr): (Cep.Bindings => Any, DataType, String) =
      e match {
        case Ref(bn :: f :: Nil) =>
          if (!bindings(bn)) fail(s"select references unknown binding " +
            s"'$bn'")
          ((bnd: Cep.Bindings) =>
            bnd.get(bn).map(evs => field(evs.head, f)).orNull,
            fieldType(f), s"${bn}_$f")
        case IdxRef(bn, idx, f) =>
          if (!bindings(bn)) fail(s"select references unknown binding " +
            s"'$bn'")
          ((bnd: Cep.Bindings) => bnd.get(bn) match {
            case None => null
            case Some(evs) => idx match {
              case Some(ix) => if (ix < evs.size) field(evs(ix), f)
                               else null
              case None => field(evs.last, f)
            }
          }, fieldType(f), s"${bn}_$f")
        case Call(None, n, args)
            if n.equalsIgnoreCase("coalesce") && args.nonEmpty =>
          val subs = args.map(extractorOf)
          ((bnd: Cep.Bindings) =>
            subs.iterator.map(_._1(bnd)).find(_ != null).orNull,
            subs.head._2, "coalesce")
        case other => fail("pattern select items must be binding.field " +
          "/ binding[i].field references or coalesce(...) of them, " +
          s"got '${sqlOf(other)}'")
      }
    val sel: List[(String, String, String, Cep.Bindings => Any)] =
      ast.select.zipWithIndex.map { case (it, i) =>
        val (ex, dt, base) = extractorOf(it.e)
        val a = it.alias.getOrElse(if (base == "coalesce") s"col$i"
                                   else base)
        ("", dtName(dt), a, ex)
      }
    var b = pt.steps.head match {
      case PatCond(bn, _, cond, q, _) =>
        val b0 = Patterns.begin(bn)(evalPred(cond))
        q.fold(b0) { case (m, n) => b0.times(m, n) }
      case _ => fail("unreachable: head checked above")
    }
    pt.steps.tail.zipWithIndex.foreach {
      case (PatCond(bn, _, cond, q, strict), _) =>
        b = if (strict) b.next(bn)(evalPred(cond))
            else b.followedBy(bn)(evalPred(cond))
        q.foreach { case (m, n) => b = b.times(m, n) }
      case (PatPair(isAnd, b1, _, c1, b2, _, c2), _) =>
        b = if (isAnd) b.both(b1)(evalPred(c1))(b2)(evalPred(c2))
            else b.either(b1)(evalPred(c1))(b2)(evalPred(c2))
      case (PatAbsent(_, cond, forNs), i) =>
        b = b.notFor(s"__not$i",
          scala.concurrent.duration.Duration.fromNanos(forNs))(
          evalPred(cond))
    }
    pt.withinNs.foreach { w =>
      b = b.within(scala.concurrent.duration.Duration.fromNanos(w))
    }
    if (!pt.every) b = b.firstOnly
    val out = sel.map { case (_, tn, a, _) => (a, typeOfName(tn)) }
    (b, sel, out)
  }

  private[api] def dtName(dt: DataType): String = dt match {
    case LongType => "long"
    case DoubleType => "double"
    case StringType => "string"
    case other => fail(s"unsupported pattern output type $other")
  }
  private[api] def typeOfName(n: String): DataType = n match {
    case "long" => LongType
    case "double" => DoubleType
    case "string" => StringType
    case other => fail(s"unsupported pattern output type '$other'")
  }

  private[api] def compilePattern(spark: SparkSession, dir: String, ast: Ast,
                             pt: PatternStream,
                             rate: Option[Rate] = None): DataFrame = {
    val (b, sel, out) = patternParts(ast, pt)
    rate match {
      case None =>
        b.selectPlan(spark, dir, out) { bnd =>
          sel.map { case (_, _, _, extract) => extract(bnd) }
        }
      case Some(r) =>
        // rate limiting over a PATTERN: the rated events are the
        // MATCHES, carrying their emission columns
        val df = b.selectPlan(spark, dir, out ++ patternEmitCols) { bnd =>
          sel.map { case (_, _, _, extract) => extract(bnd) } ++
            patternEmit(bnd)
        }
        val outCols = out.map(_._1)
        rateSelect(patternRows(df, outCols, r), outCols, r)
    }
  }

  private[api] def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
}
