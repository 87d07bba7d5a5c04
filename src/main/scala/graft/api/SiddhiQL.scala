package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.engine.{Cep, Tables}

/** SiddhiQL front-end: compile the reference's query TEXT onto the
  * engine's combinators, so a user's existing queries run verbatim.
  * Everything outside the surface below fails fast with a message
  * naming the construct.
  *
  * {{{
  * -- single queries (compile):
  * from <stream>[<filter>] (#window.<w>(args))?
  *   select <expr (as alias)?, ...>
  *   (group by ...)? (having ...)? (output first|last|all|snapshot
  *   every N sec|events)? (order by ...)? (limit N)? (offset M)?
  *   (insert into Out)?
  * from A as a join B as b on cond select ...       -- incl. left outer;
  *   a side may be `AggTable within lo, hi per 'grain'`
  * from (every)? e1=S[cond](<m:n>)? (->|,) e2=S[c] (and|or e3=S[c])?
  *   (-> not S[cond] for T)? (within T)?
  *   select e1.f | e1[0].f | e1[last].f | coalesce(e2.f, e3.f) ...
  *
  * -- apps (compileApp / deployApp): `define stream|table|window|
  * -- trigger|aggregation` + @info-annotated queries chained through
  * -- named streams; stream→table DML (insert/update/update or
  * -- insert/delete ... on); `partition with (...) begin ... end`;
  * -- aggregation reads `from A within lo, hi per 'grain'`;
  * -- @app:/@source/@sink annotations tolerated as deployment config
  * }}}
  *
  * Windows: timeBatch, lengthBatch, session, length, time,
  * externalTime(attr, T), externalTimeBatch(attr, T),
  * sort(N, attr, 'asc'|'desc'), unique:first/last(attr),
  * frequent(N, attr), delay(T), cron('quartz'), timeLength(T, N),
  * expression('retain-while predicate'). Function namespaces: str:,
  * math:, time:, json:, regex: (rendered to codegen'd SQL, never
  * UDFs). Multiple queries inserting into one named stream union (the
  * reference's StreamJunction fan-in); `select *` expands to the
  * source schema; `attr in Table` filters compile to semi/anti joins;
  * `from T on cond` runs the on-demand store-query form.
  *
  * Batch-replay semantics identical to the engine's oracle-gated
  * queries: tumbling windows become group keys (the window identity is
  * emitted as a leading implicit column — `w_start_ms`, `chunk_id`,
  * `bucket_start_ms`, or `w_start_ms`/`w_end_ms` for session), sliding
  * windows become frame-bounded window functions partitioned by the
  * `group by` keys, DML statements collapse to one keyed MERGE shuffle,
  * and pattern clauses compile onto the [[Patterns]] NFA through the
  * custom Catalyst operator path
  * ([[Patterns.PatternBuilder.selectPlan]]). [[deployApp]] runs the
  * same app text as a LIVE Structured Streaming topology.
  *
  * Scale notes: everything lowers to the same declarative plans the rest
  * of the engine emits (Catalyst sees groupBy/window/join/pattern
  * operators, never an interpreter); the only interpreted code is the
  * pattern-step PREDICATE, which the NFA already takes as a function.
  * Global-count shapes (lengthBatch chunks, sliding frames, count-based
  * output rate) compile through the distributed prefix-sum rank
  * ([[globalRank]]) and band joins — no single-task data-sized window
  * anywhere (the r9 guardGlobalWindow fail-fast family is retired).
  */
object SiddhiQL extends SiddhiQlFrontend with SiddhiQlCompiler
  with SiddhiQlLive with SiddhiQlLiveEnrich with Serializable
