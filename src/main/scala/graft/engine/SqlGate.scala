package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.SiddhiQL

/** Oracle-gated SiddhiQL front-end queries: each is the reference's query
  * TEXT compiled by [[graft.api.SiddhiQL]] onto the engine — the "a user
  * could paste their query" claim, checked value-exact against
  * hand-written DuckDB oracles (the compiler generates the Spark side
  * only; the oracle side is independent SQL). */
object SqlGate {
  type Q = (SparkSession, String) => DataFrame

  private def q(text: String): Q =
    (s, d) => SiddhiQL.compile(s, d, text)

  /** Shared by sql_incremental_pctl and its live twin: the cascade's
    * mergeable APPROX percentile (quantized run-length histogram)
    * under sketch_approx_quantile's tolerance contract — the gate
    * emits the EXACT per-bucket p50 (value-checked against the
    * oracle) plus a within-5% boolean for the approx, so the oracle
    * checks the algorithm without requiring sketch-for-sketch
    * equality with DuckDB. */
  private def pctlGate(live: Boolean)(s: SparkSession, d: String)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val app =
      """define aggregation EvPctl
        |from events
        |select user_id, percentile(value, 50.0) as p50, count() as cnt
        |group by user_id
        |aggregate by ts_ns every sec ... day;
        |
        |@info(name = 'read')
        |from EvPctl
        |within '2024-01-02 00:00:00', '2024-01-05 00:00:00'
        |per 'hours'
        |select user_id, p50, cnt
        |order by bucket_start_ms, user_id
        |insert into Out""".stripMargin
    val approx =
      if (live) SiddhiQL.deployApp(s, d, app, "read")
      else SiddhiQL.compileApp(s, d, app)("read")
    val loMs = 1704153600000L; val hiMs = 1704412800000L
    val exact = Tables.events(s, d)
      .filter(col("ts_ns") >= loMs * 1000000L &&
        col("ts_ns") < hiMs * 1000000L)
      .groupBy(expr("(ts_ns div 3600000000000L) * 3600000L")
        .as("bucket_start_ms"), col("user_id"))
      .agg(expr("percentile(value, 0.5D)").as("__exact"))
    approx.join(exact, Seq("bucket_start_ms", "user_id"))
      .select(col("bucket_start_ms"), col("user_id"), col("cnt"),
        round(col("__exact"), 4).as("exact_p50"),
        (abs(col("p50") - col("__exact")) <=
          greatest(abs(col("__exact")) * 0.05, lit(1.0))).as("p50_ok"))
      .orderBy("bucket_start_ms", "user_id")
  }

  val queries: Map[String, Q] = Map(
    "sql_filter_project" -> q(
      """from events[value > 120 and event_type == 'click']
        |select event_id, user_id, value * 2 as v2
        |order by event_id
        |insert into filtered""".stripMargin),
    "sql_timebatch_group" -> q(
      """from events#window.timeBatch(1 min)
        |select user_id, sum(value) as total, count() as n
        |group by user_id
        |order by w_start_ms, user_id
        |insert into perMinute""".stripMargin),
    // start-time ALIGNED timeBatch (r17): bucket boundaries at
    // epoch + k·10min + 3min — the optional second argument the
    // reference's timeBatch supports; the oracle's floor-div shift
    // pins the non-epoch boundaries exactly
    "sql_timebatch_aligned" -> q(
      """from events#window.timeBatch(10 min, 3 min)
        |select user_id, math:round(sum(value), 2) as total,
        |  count() as n
        |group by user_id
        |order by w_start_ms, user_id
        |insert into aligned""".stripMargin),
    // the live twin: Spark's window(col, dur, dur, startTime) carries
    // the same offset natively; same DuckDB oracle
    "sql_app_timebatch_aligned_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'roll')
        |from events#window.timeBatch(10 min, 3 min)
        |select user_id, math:round(sum(value), 2) as total,
        |  count() as n
        |group by user_id
        |order by w_start_ms, user_id
        |insert into Out""".stripMargin, "roll")),
    "sql_lengthbatch" -> q(
      """from events#window.lengthBatch(100)
        |select max(value) as mx, count() as n
        |order by chunk_id
        |insert into perChunk""".stripMargin),
    // MULTI-attribute sort comparator (r17 breadth audit: attributes
    // past the first were silently dropped before)
    "sql_sort_multi" -> q(
      """from events#window.sort(50, user_id, 'asc', value, 'desc')
        |select event_id, user_id, value
        |order by event_id
        |insert into kept""".stripMargin),
    // unique:ever (latest per key, retained forever) with a COMPOSITE
    // key — both r17 breadth-audit additions in one gate
    "sql_unique_ever" -> q(
      """from events#window.unique:ever(user_id, event_type)
        |select user_id, event_type, value
        |order by user_id, event_type
        |insert into latest""".stripMargin),
    "sql_session_group" -> q(
      """from events#window.session(2 min)
        |select user_id, count() as n, sum(value) as total
        |group by user_id
        |order by user_id, w_start_ms
        |insert into sessions""".stripMargin),
    "sql_length_sliding" -> q(
      """from events#window.length(20)
        |select event_id, user_id, math:round(sum(value), 2) as s20,
        |  count() as n20
        |group by user_id
        |order by event_id
        |insert into sliding""".stripMargin),
    "sql_app_chained" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'hot')
        |from events[value > 100]
        |select event_id, ts_ns, user_id, event_type, value
        |insert into HotEvents;
        |
        |@info(name = 'perUserMinute')
        |from HotEvents#window.timeBatch(1 min)
        |select user_id, count() as n, math:round(sum(value), 2) as total
        |group by user_id
        |order by w_start_ms, user_id
        |insert into PerUserMinute""".stripMargin)("perUserMinute")),
    "sql_join_group" -> q(
      """from customer as c join nation as n
        |  on c.c_nationkey == n.n_nationkey
        |select n_name, count() as n_cust,
        |  math:round(sum(c.c_acctbal), 2) as bal
        |group by n_name
        |having n_cust > 2
        |order by n_name
        |insert into perNation""".stripMargin),
    "sql_pattern_absence" -> q(
      """from every e1=events[event_type == 'error']
        |  -> not events[event_type == 'purchase' and user_id == e1.user_id]
        |     for 5 min
        |select e1.user_id as user_id, e1.event_id as event_id
        |order by event_id
        |insert into silentErrors""".stripMargin),

    // stream ⋈ aggregation: enrichment join over the grain cascade's
    // stored table (rolled aggregate broadcasts)
    "sql_join_aggregation" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define aggregation EvAgg
        |from events
        |select user_id, sum(value) as total, count() as cnt
        |group by user_id
        |aggregate by ts_ns every min, hour, day;
        |
        |@info(name = 'enriched')
        |from customer as c join EvAgg as a
        |  within 1704153600000, 1704240000000 per 'days'
        |  on c.c_custkey == a.user_id
        |select c_custkey, math:round(a.total, 2) as total, a.cnt as cnt
        |order by c_custkey
        |insert into Out""".stripMargin)("enriched")),
    // function namespaces: str/math/time/json/regex families compiled to
    // codegen'd Spark SQL expressions (never UDFs)
    "sql_functions" -> q(
      """from events[event_id < 500]
        |select event_id,
        |  str:substr(event_type, 0, 3) as t3,
        |  str:reverse(event_type) as rev,
        |  str:repeat(str:upper(event_type), 2) as up2,
        |  str:equalsIgnoreCase(event_type, 'CLICK') as is_click,
        |  math:min(value, 100.0) as vmin,
        |  math:max(value, 100.0) as vmax,
        |  time:extract('hour', ts_ns / 1000000) as hr,
        |  json:getLong(props, '$.k') as pk,
        |  regex:group('([a-z]+)', event_type, 1) as g1,
        |  regex:find('err', event_type) as has_err,
        |  regex:matches('e.*r', event_type) as full_match
        |order by event_id
        |insert into Out""".stripMargin),
    // round-6 additions to the function surface: str:split/strcmp/hex,
    // math:cbrt/toDegrees/parse*/pi, time:dateFormat/dateAdd/dateDiff/
    // dayOfWeek — epoch arithmetic and Java-pattern formatting parity
    "sql_functions2" -> q(
      """from events[event_id < 300]
        |select event_id,
        |  str:split(event_type, 'i', 1) as piece,
        |  str:strcmp(event_type, 'click') as cmp,
        |  str:hex(str:substr(event_type, 0, 2)) as hx,
        |  math:round(math:cbrt(value), 6) as cb,
        |  math:round(math:toDegrees(value / 100.0), 6) as deg,
        |  math:parseDouble('2.5') as pd,
        |  math:round(math:pi() * 1000000, 0) as pim,
        |  time:dateFormat(ts_ns / 1000000, 'yyyy-MM-dd HH') as fmt,
        |  time:dateAdd(ts_ns / 1000000, 2, 'hour') as plus2h,
        |  time:dateDiff(ts_ns / 1000000, 1704067200000) as days_since,
        |  time:dayOfWeek(ts_ns / 1000000) as dow
        |order by event_id
        |insert into Out""".stripMargin),
    // stream#window.time ⋈ stream#window.time: the symmetric time-band
    // pair semantics (each event within the other's window), equi key
    // required so the plan shards on it. 10-min windows: the error ×
    // purchase same-user co-occurrence is sparse in the fixtures, so a
    // narrower band yields ZERO pairs at the sf0.01 gate scale and the
    // comparison passes vacuously (ADVICE r7) — 10 min gives pairs at
    // sf0.001 (1) and sf0.01 (14), so the band arithmetic is actually
    // exercised.
    "sql_join_window" -> q(
      """from events as a#window.time(10 min)
        |  join events as b#window.time(10 min)
        |  on a.user_id == b.user_id and a.event_type == 'error'
        |     and b.event_type == 'purchase'
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin),
    // rate limiting over a JOIN: pairs emit at the later side's
    // arrival; `last every 10 min` keeps the final pair emission of
    // each rate interval
    "sql_rate_join" -> q(
      """from events as a#window.time(10 min)
        |  join events as b#window.time(10 min)
        |  on a.user_id == b.user_id and a.event_type == 'error'
        |     and b.event_type == 'purchase'
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |output last every 10 min
        |order by err_id, buy_id
        |insert into Out""".stripMargin),
    // `output first every T` deployed LIVE: streaming dropDuplicates on
    // the interval id, watermark-evicted state
    "sql_app_rate_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'first_per_min')
        |from events[value > 100.0]
        |select event_id, user_id, value
        |order by event_id
        |output first every 1 min
        |insert into Out""".stripMargin, "first_per_min")),
    // `output last every T` deployed LIVE: an Append-mode time-window
    // max_by — each interval's last event emits when the watermark
    // closes the interval (state evicted per window)
    "sql_app_rate_last_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'last_per_min')
        |from events[value > 100.0]
        |select event_id, user_id, value
        |order by event_id
        |output last every 1 min
        |insert into Out""".stripMargin, "last_per_min")),
    // `output all every T` deployed LIVE: emission batching only —
    // content is the pass-through stream
    "sql_app_rate_all_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'all_per_min')
        |from events[value > 150.0]
        |select event_id, user_id, value
        |order by event_id
        |output all every 1 min
        |insert into Out""".stripMargin, "all_per_min")),
    // `output snapshot every T` deployed LIVE: per-interval keep-latest
    // keyed fold (bucketed generations) + one gap-fill pass at finish
    "sql_app_rate_snapshot_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'snap')
        |from events
        |select value as v
        |output snapshot every 10 min
        |order by w_end_ms
        |insert into Out""".stripMargin, "snap")),
    // cron window deployed LIVE: cron-aligned Complete-mode buckets
    "sql_app_cron_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'c')
        |from events#window.cron('0 0/15 * * * ?')
        |select count() as n, math:round(avg(value), 6) as avg_value
        |order by cron_tick_ms
        |insert into Out""".stripMargin, "c")),
    // delay chained into a live timeBatch: downstream buckets by the
    // DELAYED time, live
    "sql_app_delay_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'd')
        |from events#window.delay(90 sec)
        |select event_id, ts_ns, user_id, event_type, value
        |insert into Delayed;
        |
        |@info(name = 'agg')
        |from Delayed#window.timeBatch(1 min)
        |select count() as n, math:round(sum(value), 2) as total
        |order by w_start_ms
        |insert into Out""".stripMargin, "agg")),
    // timeLength deployed LIVE: per-key last-N ring time-pruned per event
    "sql_app_timelength_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'tl')
        |from events#window.timeLength(2 min, 10)
        |select event_id, user_id, count() as occ,
        |  math:round(sum(value), 2) as sv, max(value) as mx
        |group by user_id
        |order by event_id
        |insert into Out""".stripMargin, "tl")),
    // retain-while window deployed LIVE: fMGWS front-eviction fold
    "sql_app_expression_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'x')
        |from events#window.expression('count() < 7')
        |select event_id, user_id, count() as occ,
        |  math:round(sum(value), 2) as sv
        |group by user_id
        |order by event_id
        |insert into Out""".stripMargin, "x")),
    // unique:first deployed LIVE: streaming dropDuplicates on the key
    "sql_app_unique_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'u')
        |from events#window.unique:first(user_id)
        |select event_id, user_id, value
        |order by event_id
        |insert into Out""".stripMargin, "u")),
    // per-key sliding length window deployed LIVE: fMGWS ring of the
    // last 20 events per user, aggregates re-evaluated per arrival
    "sql_app_length_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'sl')
        |from events#window.length(20)
        |select event_id, user_id, math:round(sum(value), 2) as s20,
        |  count() as n20
        |group by user_id
        |order by event_id
        |insert into Out""".stripMargin, "sl")),
    // session aggregation deployed LIVE: built-in session_window in
    // Complete mode; the batch session CTE oracle is the truth
    "sql_app_session_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'sess')
        |from events#window.session(2 min)
        |select user_id, count() as n, math:round(sum(value), 2) as total
        |group by user_id
        |order by user_id, w_start_ms
        |insert into Out""".stripMargin, "sess")),
    // the windowed stream-stream join deployed LIVE (watermarked
    // interval join; batch band semantics are the oracle). 10-min
    // windows so the gate is non-vacuous at sf0.001/sf0.01 (ADVICE r7).
    "sql_app_join_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'pairs')
        |from events as a[event_type == 'error']#window.time(10 min)
        |  join events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin, "pairs")),
    // aggregation above a live join: the watermarked interval join's
    // pairs (carrying the left side's event time) aggregated in a
    // downstream Append-mode tumbling window — Spark's
    // chained-stateful-operator path: join state evicted by the
    // [-Tl, Tr] band, window state evicted by the watermark
    "sql_app_join_agg_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'pairs')
        |from events as a[event_type == 'error']#window.time(10 min)
        |  join events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.user_id as user_id, b.value as value, a.ts_ns as ts_ns
        |insert into Pairs;
        |
        |@info(name = 'agg')
        |from Pairs#window.timeBatch(1 min)
        |select user_id, count() as n, math:round(sum(value), 2) as total
        |group by user_id
        |order by w_start_ms, user_id
        |insert into Out""".stripMargin, "agg")),
    // COUNT-window stream-stream join: length(N) on both sides — the
    // arrival-rank band (seqB > cntB − Nr at the later event's
    // arrival), compiled like the time join: shuffled equi join on the
    // key with the integer band as residual
    "sql_join_length_window" -> q(
      """from events as a[event_type == 'error']#window.length(50)
        |  join events as b[event_type == 'purchase']#window.length(80)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin),
    // timeBatch join sides: the chunk window holds exactly the current
    // tumbling bucket, so retention is bucket co-membership
    "sql_join_timebatch_window" -> q(
      """from events as a[event_type == 'error']#window.timeBatch(10 min)
        |  join events as b[event_type == 'purchase']#window.timeBatch(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin),
    // NAMED-WINDOW join sides (r16, SURVEY §2.5 "stream ⋈ named
    // window"): a join side reading a defined window rewrites to
    // fed-stream#spec exactly like a single-stream read — the two
    // fed windows join on the same timeBatch machinery
    "sql_join_named_window" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define window ErrW (event_id long, ts_ns long, user_id long,
        |  event_type string, value double) timeBatch(10 min);
        |define window BuyW (event_id long, ts_ns long, user_id long,
        |  event_type string, value double) timeBatch(10 min);
        |
        |@info(name = 'fe')
        |from events[event_type == 'error']
        |select event_id, ts_ns, user_id, event_type, value
        |insert into ErrW;
        |
        |@info(name = 'fb')
        |from events[event_type == 'purchase']
        |select event_id, ts_ns, user_id, event_type, value
        |insert into BuyW;
        |
        |@info(name = 'pairs')
        |from ErrW as a join BuyW as b
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin)("pairs")),
    // lengthBatch join side mixed with a time side: the chunk holds
    // arrivals since its last flush (ranks above the last multiple of N)
    "sql_join_lengthbatch_window" -> q(
      """from events as a[event_type == 'error']#window.time(10 min)
        |  join events as b[event_type == 'purchase']#window.lengthBatch(40)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin),
    // timeBatch join sides deployed LIVE: same interval join, bucket
    // co-membership as residual over the [-T, T] eviction hull
    "sql_app_join_timebatch_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'pairs')
        |from events as a[event_type == 'error']#window.timeBatch(10 min)
        |  join events as b[event_type == 'purchase']#window.timeBatch(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin, "pairs")),
    // COUNT-based output rate limiting: global arrival-rank chunks of
    // N (text batch form), and the SAME text deployed LIVE through the
    // fold channel (one counter row + append-only emissions; `last`
    // emits the trailing partial chunk's tail at finish)
    "sql_rate_count" -> q(
      """from events[value > 100.0]
        |select event_id, user_id
        |order by event_id
        |output first every 5 events
        |insert into Out""".stripMargin),
    // count-based rate over the join's pair emissions: every 4th pair
    // in (later-arrival, left id, right id) order, taking the first
    "sql_rate_join_count" -> q(
      """from events as a#window.time(10 min)
        |  join events as b#window.time(10 min)
        |  on a.user_id == b.user_id and a.event_type == 'error'
        |     and b.event_type == 'purchase'
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |output first every 4 events
        |order by err_id, buy_id
        |insert into Out""".stripMargin),
    // rate OVER the join deployed LIVE: time mode folds a per-interval
    // extreme pick keyed on the interval (chunking-invariant — a
    // pair's interval is its own emit instant); the batch
    // sql_rate_join form is the truth
    "sql_app_rate_join_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'paced')
        |from events as a#window.time(10 min)
        |  join events as b#window.time(10 min)
        |  on a.user_id == b.user_id and a.event_type == 'error'
        |     and b.event_type == 'purchase'
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |output last every 10 min
        |order by err_id, buy_id
        |insert into Out""".stripMargin, "paced")),
    // rate over an OUTER join (batch): a null-padded row emits at its
    // preserved side's own arrival instant (greatest skips the null
    // side; missing ids coalesce to -1 in the emission order)
    "sql_rate_join_outer" -> q(
      """from events as a[event_type == 'error']#window.time(10 min)
        |  left outer join
        |  events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id,
        |  coalesce(b.event_id, convert(-1, 'long')) as buy_id,
        |  a.user_id as user_id
        |output last every 10 min
        |order by err_id, buy_id
        |insert into Out""".stripMargin),
    // COUNT mode over an OUTER join (r12, batch): the emission order
    // is total (emit ts, side ids with the null side at -1), so the
    // every-Nth pick ranks pads at their preserved side's arrival
    // alongside the pairs
    "sql_rate_join_outer_count" -> q(
      """from events as a[event_type == 'error']#window.time(10 min)
        |  left outer join
        |  events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id,
        |  coalesce(b.event_id, convert(-1, 'long')) as buy_id,
        |  a.user_id as user_id
        |output first every 7 events
        |order by err_id, buy_id
        |insert into Out""".stripMargin),
    // the same count-over-outer form deployed LIVE (r12): a running
    // counter can't see pads in order (they materialize at watermark
    // expiry), so the fold accumulates emissions with their order key
    // and applies the every-Nth pick ONCE at finish — the batch
    // rank-and-pick above is the truth
    "sql_app_rate_join_outer_count_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """@info(name = 'paced')
        |from events as a[event_type == 'error']#window.time(10 min)
        |  left outer join
        |  events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id,
        |  coalesce(b.event_id, convert(-1, 'long')) as buy_id,
        |  a.user_id as user_id
        |output first every 7 events
        |order by err_id, buy_id
        |insert into Out""".stripMargin, "paced")),
    // rate over an OUTER join deployed LIVE: time-mode per-interval
    // picks are keyed on each row's OWN emission interval, so a
    // null-pad materializing at watermark expiry merges into the
    // right interval no matter which trigger carries it — the batch
    // form is the truth
    "sql_app_rate_join_outer_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'paced')
        |from events as a[event_type == 'error']#window.time(10 min)
        |  left outer join
        |  events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id,
        |  coalesce(b.event_id, convert(-1, 'long')) as buy_id,
        |  a.user_id as user_id
        |output last every 10 min
        |order by err_id, buy_id
        |insert into Out""".stripMargin, "paced")),
    // count mode deployed LIVE: pair emissions ride the running
    // counter fold (emission order = greatest ts + side ids)
    "sql_app_rate_join_count_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'paced')
        |from events as a#window.time(10 min)
        |  join events as b#window.time(10 min)
        |  on a.user_id == b.user_id and a.event_type == 'error'
        |     and b.event_type == 'purchase'
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |output first every 4 events
        |order by err_id, buy_id
        |insert into Out""".stripMargin, "paced")),
    // the windowed downsample deployed LIVE: fold state = per-bucket
    // algebraic flush partials (chunking-invariant), finish runs the
    // batch rate selection — the batch sql_rate_window oracle is truth
    "sql_app_rate_window_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'downsample')
        |from events[event_type == 'view']#window.timeBatch(1 min)
        |select math:round(sum(value), 2) as total, count() as n
        |output last every 10 min
        |order by w_end_ms
        |insert into Out""".stripMargin, "downsample")),
    // rate limiting OVER a windowed aggregation: the rated events are
    // the 1-min flush rows; `last every 10 min` keeps the final flush
    // of each rate interval (the monitoring downsample)
    "sql_rate_window" -> q(
      """from events[event_type == 'view']#window.timeBatch(1 min)
        |select math:round(sum(value), 2) as total, count() as n
        |output last every 10 min
        |order by w_end_ms
        |insert into Out""".stripMargin),
    // count-based over flushes: every 3rd flush row, taking the first
    "sql_rate_window_count" -> q(
      """from events[event_type == 'view']#window.timeBatch(1 min)
        |select math:round(sum(value), 2) as total, count() as n
        |output first every 3 events
        |order by w_end_ms
        |insert into Out""".stripMargin),
    "sql_app_rate_count_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'fifth')
        |from events[value > 100.0]
        |select event_id, user_id
        |order by event_id
        |output first every 5 events
        |insert into Out""".stripMargin, "fifth")),
    "sql_app_rate_count_last_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'tails')
        |from events[value > 100.0]
        |select event_id, user_id
        |order by event_id
        |output last every 5 events
        |insert into Out""".stripMargin, "tails")),
    // rate OVER pattern matches (r14): the rated events are the
    // MATCHES in emission order (closing bound event's ts, spawn
    // tie-break) — count mode picks every 4th match
    // COUNT-mode rate over a NAMED window (r14 adjudication made
    // executable): the named-window read rewrites to fed-stream#spec,
    // so the rate rides the flush-fold channel whose finish is
    // rateOverFlushes — same oracle as sql_rate_window_count
    "sql_rate_named_count" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define window HotWin (event_id long, ts_ns long, user_id long,
        |  event_type string, value double) timeBatch(1 min);
        |
        |@info(name = 'feed')
        |from events[event_type == 'view']
        |select event_id, ts_ns, user_id, event_type, value
        |insert into HotWin;
        |
        |@info(name = 'down')
        |from HotWin
        |select math:round(sum(value), 2) as total, count() as n
        |output first every 3 events
        |order by w_end_ms
        |insert into Out""".stripMargin)("down")),
    "sql_app_rate_named_count_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """define window HotWin (event_id long, ts_ns long, user_id long,
        |  event_type string, value double) timeBatch(1 min);
        |
        |@info(name = 'feed')
        |from events[event_type == 'view']
        |select event_id, ts_ns, user_id, event_type, value
        |insert into HotWin;
        |
        |@info(name = 'down')
        |from HotWin
        |select math:round(sum(value), 2) as total, count() as n
        |output first every 3 events
        |order by w_end_ms
        |insert into Out""".stripMargin, "down")),
    "sql_rate_pattern" -> q(
      """from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase']
        |  within 120 min
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as next_id
        |output first every 4 events
        |order by start_id, next_id
        |insert into alerts""".stripMargin),
    // the same app deployed LIVE: matches accumulate in an append-only
    // fold, finish runs the BATCH selection (rateOverMatches) — live ≡
    // batch by construction
    "sql_app_rate_pattern_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'alerts')
        |from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase']
        |  within 120 min
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as next_id
        |output first every 4 events
        |order by start_id, next_id
        |insert into alerts""".stripMargin, "alerts")),
    // time mode over matches: the LAST match of each 10-min emission
    // interval
    "sql_rate_pattern_time" -> q(
      """from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase']
        |  within 120 min
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as next_id
        |output last every 10 min
        |order by start_id, next_id
        |insert into alerts""".stripMargin),
    "sql_app_rate_pattern_time_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'alerts')
        |from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase']
        |  within 120 min
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as next_id
        |output last every 10 min
        |order by start_id, next_id
        |insert into alerts""".stripMargin, "alerts")),
    // MIXED window sides: each direction applies the EARLIER side's
    // own retention rule — the time side its [0, T] band, the length
    // side its arrival-rank band
    "sql_join_mixed_window" -> q(
      """from events as a[event_type == 'error']#window.length(50)
        |  join events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin),
    // @OnError(action='STREAM'): the annotated stream's fault twin is
    // readable as `from !events` — v1 fault class = integer divide/
    // modulo by zero, derived from the app's own expressions; clean
    // readers see only the complement (engine twin: Ops.faultStream)
    "sql_onerror_fault" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """@OnError(action='STREAM')
        |define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'ok')
        |from events
        |select event_id, event_id % (user_id % 3) as r
        |order by event_id
        |insert into Out;
        |
        |@info(name = 'faults')
        |from !events
        |select event_id, _error
        |order by event_id
        |insert into Faults""".stripMargin)("faults")),
    // the same @OnError app deployed LIVE (stateless split over the
    // watermarked source; batch replay is the oracle)
    "sql_app_onerror_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@OnError(action='STREAM')
        |define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'ok')
        |from events
        |select event_id, event_id % (user_id % 3) as r
        |order by event_id
        |insert into Out;
        |
        |@info(name = 'faults')
        |from !events
        |select event_id, _error
        |order by event_id
        |insert into Faults""".stripMargin, "faults")),
    // a STATEFUL (windowed) live reader of the @OnError CLEAN stream:
    // the split filters keep the flush-sentinel region, so the final
    // windows still close — the r9 watermark-invariant fix end-to-end
    // (before it, the divisor-zero sentinel path silently dropped the
    // flush and the last buckets never emitted)
    "sql_app_onerror_agg_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@OnError(action='STREAM')
        |define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'ok')
        |from events
        |select event_id, event_id % (user_id % 3) as r
        |insert into Other;
        |
        |@info(name = 'sums')
        |from events#window.timeBatch(1 hour)
        |select count() as n, math:round(sum(value), 2) as sv
        |order by w_start_ms
        |insert into Out""".stripMargin, "sums")),
    "sql_onerror_clean" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """@OnError(action='STREAM')
        |define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'ok')
        |from events
        |select event_id, event_id % (user_id % 3) as r
        |order by event_id
        |insert into Out""".stripMargin)("ok")),
    // ONE-STAGE windowed-join aggregation deployed LIVE: `join …
    // select agg(...) group by …` in a single query — compiled to the
    // interval join feeding an algebraic keyed fold (count/sum/min/
    // max/avg partials merged componentwise per group across
    // triggers); the batch global aggregation over all band pairs is
    // the oracle
    "sql_app_join_agg1_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'agg')
        |from events as a[event_type == 'error']#window.time(5 min)
        |  join events as b[event_type == 'purchase']#window.time(5 min)
        |  on a.user_id == b.user_id
        |select a.user_id as user_id, count() as n,
        |  math:round(sum(b.value), 2) as total,
        |  math:round(avg(b.value), 2) as avg_v,
        |  math:round(min(b.value), 2) as vmin,
        |  math:round(max(b.value), 2) as vmax
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin, "agg")),
    // aggregation above an OUTER live join (r11): null-padded rows
    // fold into their groups whenever watermark expiry materializes
    // them (the keyed algebraic merge is arrival-agnostic; the
    // runner's flush sentinels flush the tail's pads) — unmatched
    // errors count with a null purchase value
    "sql_app_join_agg_outer_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'agg')
        |from events as a[event_type == 'error']#window.time(5 min)
        |  left outer join
        |  events as b[event_type == 'purchase']#window.time(5 min)
        |  on a.user_id == b.user_id
        |select a.user_id as user_id, count() as n,
        |  math:round(sum(b.value), 2) as total
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin, "agg")),
    // HAVING on the live join aggregation: applied once at finish
    // over the finalized groups (alias refs) — chunking-invariant.
    // 120-min band so the filter is POSITIVELY exercised at sf0.01:
    // 15 groups pass n > 2 and 75 are filtered (a 5-min band had no
    // group above 2, which made the gate hash-match empty-vs-empty)
    "sql_app_join_agg_having_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'agg')
        |from events as a[event_type == 'error']#window.time(120 min)
        |  join events as b[event_type == 'purchase']#window.time(120 min)
        |  on a.user_id == b.user_id
        |select a.user_id as user_id, count() as n,
        |  math:round(sum(b.value), 2) as total
        |group by user_id
        |having n > 2
        |order by user_id
        |insert into Out""".stripMargin, "agg")),
    // LIMIT/OFFSET on the live join aggregation: composed once at
    // finish with the runner's ordering (offset skips 2 of the 7
    // finalized groups, limit keeps 3 — both paths exercised)
    "sql_app_join_agg_limit_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'agg')
        |from events as a[event_type == 'error']#window.time(5 min)
        |  join events as b[event_type == 'purchase']#window.time(5 min)
        |  on a.user_id == b.user_id
        |select a.user_id as user_id, count() as n,
        |  math:round(sum(b.value), 2) as total
        |group by user_id
        |order by user_id
        |limit 3
        |offset 2
        |insert into Out""".stripMargin, "agg")),
    // HAVING on the live enrichment aggregation, same finish filter
    "sql_app_enrich_agg_having_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Counter (user_id long, cnt long, total double);
        |
        |@info(name = 'track')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt, value as total
        |update or insert into Counter
        |  set Counter.cnt = Counter.cnt + 1,
        |      Counter.total = Counter.total + total
        |  on Counter.user_id == user_id;
        |
        |@info(name = 'agg')
        |from events as e[event_type == 'purchase'] join Counter
        |  on Counter.user_id == e.user_id
        |select e.user_id as user_id, count() as buys,
        |  math:round(sum(Counter.total), 2) as clicksum
        |group by user_id
        |having buys > 1
        |order by user_id
        |insert into Out""".stripMargin, "agg")),
    // the one-stage join aggregation with the EXTENDED algebra:
    // stdDev folds as Chan moments and distinctCount as value-set
    // unions per group across triggers — the r9 "algebraic aggregates
    // only" refusal on the live join fold, deleted
    "sql_app_join_agg_stats_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'agg')
        |from events as a[event_type == 'error']#window.time(5 min)
        |  join events as b[event_type == 'purchase']#window.time(5 min)
        |  on a.user_id == b.user_id
        |select a.user_id as user_id, count() as n,
        |  math:round(stdDev(b.value), 6) as sd,
        |  distinctCount(b.event_id) as dp
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin, "agg")),
    // LEFT OUTER windowed join deployed LIVE: the same watermarked
    // interval join — Spark emits the null-padded left row once the
    // watermark proves no right match can still arrive in the band
    // (state eviction doubles as the no-match proof); the band-model
    // batch left join is the oracle
    "sql_app_join_outer_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'pairs')
        |from events as a[event_type == 'error']#window.time(2 min)
        |  left outer join
        |  events as b[event_type == 'purchase']#window.time(2 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin, "pairs")),
    // FULL OUTER windowed join deployed LIVE: both sides null-pad at
    // watermark expiry — unmatched errors AND unmatched purchases
    "sql_app_join_full_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'pairs')
        |from events as a[event_type == 'error']#window.time(2 min)
        |  full outer join
        |  events as b[event_type == 'purchase']#window.time(2 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin, "pairs")),
    // global (unwindowed) aggregation deployed LIVE in UPDATE mode:
    // each trigger emits only the groups the batch changed; the
    // runner's keyed upsert collapse (last write per group wins) is
    // the sink — per-trigger sink volume O(changed groups), asserted
    // bounded in StreamingSourceSpec
    "sql_app_agg_update_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'totals')
        |from events[value > 50.0]
        |select user_id, count() as n, math:round(sum(value), 2) as sv
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin, "totals")),
    // unique:last deployed LIVE: keep-LAST per key as a foreachBatch
    // keyed fold (Update-mode semantics without sink retraction)
    "sql_app_uniquelast_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'u')
        |from events#window.unique:last(user_id)
        |select event_id, user_id, value
        |order by user_id
        |insert into Out""".stripMargin, "u")),
    // sort window deployed LIVE: running top-N retention fold (N rows
    // of state), aggregates evaluated over the final kept set
    "sql_app_sort_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'sk')
        |from events#window.sort(5, value, 'desc')
        |select math:round(sum(value), 2) as sv, count() as n,
        |  math:round(min(value), 2) as vmin
        |insert into Out""".stripMargin, "sk")),
    // frequent window deployed LIVE: per-key algebraic components fold
    // componentwise; top-N-by-count retention applied at read time
    "sql_app_frequent_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'fq')
        |from events#window.frequent(3, event_type)
        |select event_type, count() as n
        |group by event_type
        |order by event_type
        |insert into Out""".stripMargin, "fq")),
    // keyed partition deployed LIVE: the key prepends to the inner
    // timeBatch grouping — the reference's per-key query instances run
    // as ONE keyed Append-mode streaming aggregation
    "sql_app_partition_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """partition with (user_id of events)
        |begin
        |  @info(name = 'perUser')
        |  from events#window.timeBatch(1 min)
        |  select user_id, count() as n, math:round(sum(value), 2) as sv
        |  order by w_start_ms, user_id
        |  insert into Out;
        |end""".stripMargin, "perUser")),
    // range partition deployed LIVE: label column + running per-band
    // aggregate (Complete mode — band cardinality bounds the state)
    "sql_app_partition_range_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """partition with (value < 50 as 'low' or value < 150 as 'mid'
        |  or value >= 150 as 'high' of events)
        |begin
        |  @info(name = 'bands')
        |  from events
        |  select partition_key, count() as n,
        |    math:round(sum(value), 2) as sv
        |  order by partition_key
        |  insert into Out;
        |end""".stripMargin, "bands")),
    // table DML deployed LIVE: a stream stage feeds `update or insert`,
    // executed as a per-micro-batch keyed MERGE over parquet
    // generations (foreachBatch); the batch statement-at-once replay is
    // the oracle — the reference's enrichment loop running live
    "sql_app_table_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table UserState (user_id long, last_value double,
        |  last_type string);
        |
        |@info(name = 'hot')
        |from events[value > 50.0]
        |select event_id, ts_ns, user_id, event_type, value
        |insert into HotEvents;
        |
        |@info(name = 'track')
        |from HotEvents
        |select user_id, value as last_value, event_type as last_type
        |update or insert into UserState on UserState.user_id == user_id"""
        .stripMargin, "track").orderBy("user_id")),
    // accumulator-fold DML: `set T.c = T.c + expr` collapses
    // algebraically under batch replay (prior ± Σ per-key deltas — one
    // keyed aggregate, no per-event loop)
    "sql_table_upsert_fold" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Counter (user_id long, cnt long, total double);
        |
        |@info(name = 'track')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt, value as total
        |update or insert into Counter
        |  set Counter.cnt = Counter.cnt + 1,
        |      Counter.total = Counter.total + total
        |  on Counter.user_id == user_id;
        |
        |@info(name = 'read')
        |from Counter
        |select user_id, cnt, math:round(total, 2) as total
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // the canonical Siddhi STORE pattern: a windowed aggregate feeds
    // table DML — each timeBatch flush emits per-group aggregate rows
    // that merge into the table in flush order. insert-into appends
    // every flush row; the read re-aggregates the store
    "sql_table_agg_insert" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Stats (user_id long, cnt long, avg_value double);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, avg(value) as avg_value
        |group by user_id
        |insert into Stats;
        |
        |@info(name = 'read')
        |from Stats
        |select user_id, sum(cnt) as total_clicks,
        |  math:round(max(avg_value), 2) as max_flush_avg
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // update-or-insert from a windowed aggregate: per key the LAST
    // flush's row wins (the store holds each user's latest window)
    "sql_table_agg_upsert" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table LastWin (user_id long, cnt long, total double);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, sum(value) as total
        |group by user_id
        |update or insert into LastWin on LastWin.user_id == user_id;
        |
        |@info(name = 'read')
        |from LastWin
        |select user_id, cnt, math:round(total, 2) as total
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // accumulator folds over window FLUSHES: `set T.c = T.c + expr`
    // composes additively across flush emissions exactly as it does
    // across events — flushes counts the user's distinct windows,
    // total folds each flush's sum (first flush inserts, later fold)
    "sql_table_agg_fold" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Acc (user_id long, flushes long, total double);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, convert(1, 'long') as flushes,
        |  sum(value) as total
        |group by user_id
        |update or insert into Acc
        |  set Acc.flushes = Acc.flushes + 1,
        |      Acc.total = Acc.total + total
        |  on Acc.user_id == user_id;
        |
        |@info(name = 'read')
        |from Acc
        |select user_id, flushes, math:round(total, 2) as total
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // the windowed store pattern with the EXTENDED fold algebra:
    // per-window stdDev (Chan moment components) and exact
    // distinctCount (value-set partials); upsert = last flush wins
    "sql_table_agg_stats" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table WStats (user_id long, sd double, dv long);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(stdDev(value), 6) as sd,
        |  distinctCount(event_id) as dv
        |group by user_id
        |update or insert into WStats on WStats.user_id == user_id;
        |
        |@info(name = 'read')
        |from WStats
        |select user_id, sd, dv
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // the same stats store pattern deployed LIVE: stdDev folds as
    // (n, mean, M2) moments and distinctCount as value-set unions in
    // the per-(bucket, user) flush-partial state — the r9 "algebraic
    // aggregates only" refusal, deleted
    "sql_app_table_stats_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table WStats (user_id long, sd double, dv long);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(stdDev(value), 6) as sd,
        |  distinctCount(event_id) as dv
        |group by user_id
        |update or insert into WStats on WStats.user_id == user_id"""
        .stripMargin, "roll")
      .selectExpr("user_id", "sd", "dv")
      .orderBy("user_id")),
    // table on the LEFT of an INNER enrichment join: symmetric —
    // auto-swapped to the stream-left form (Siddhi accepts either)
    "sql_enrich_table_left" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table UserState (user_id long, last_value double);
        |
        |@info(name = 'track')
        |from events[event_type == 'click']
        |select user_id, value as last_value
        |update or insert into UserState on UserState.user_id == user_id;
        |
        |@info(name = 'read')
        |from UserState join events as e[event_type == 'purchase']
        |  on UserState.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  math:round(UserState.last_value, 2) as lv
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_enrich_left_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table UserState (user_id long, last_value double);
        |
        |@info(name = 'track')
        |from events[event_type == 'click']
        |select user_id, value as last_value
        |update or insert into UserState on UserState.user_id == user_id;
        |
        |@info(name = 'read')
        |from UserState join events as e[event_type == 'purchase']
        |  on UserState.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  math:round(UserState.last_value, 2) as lv
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // TWO writers maintaining one table: Siddhi's per-event flow means
    // the merge interleaves BOTH writers' updates in (ts, event_id,
    // statement) order — last-wins goes to the truly latest event
    // across writers, never "last statement wins"
    // MIXED writer group (r14): a PER-EVENT upsert, a WINDOWED
    // (timeBatch flush) upsert, and a per-event delete sweeper on ONE
    // table — flush emissions interleave between per-event emissions
    // at (bucket start, 0, statement idx) in the shared __g_ord
    // order; the sweeper's last tombstone per key wipes everything at
    // or before it. Live deploys via multiWindowedDmlFold (flush
    // partials + per-event emission logs, finish = the batch merge).
    "sql_table_mixed_win" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table MixT (user_id long, v double);
        |
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, math:round(value, 2) as v
        |update or insert into MixT on MixT.user_id == user_id;
        |
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MixT on MixT.user_id == user_id;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete MixT on MixT.user_id == user_id;
        |
        |@info(name = 'read')
        |from MixT
        |select user_id, v
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_table_mixed_win_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table MixT (user_id long, v double);
        |
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, math:round(value, 2) as v
        |update or insert into MixT on MixT.user_id == user_id;
        |
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MixT on MixT.user_id == user_id;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete MixT on MixT.user_id == user_id;
        |
        |@info(name = 'read')
        |from MixT
        |select user_id, v
        |order by user_id
        |insert into Out""".stripMargin, "read")),
    // PER-EVENT AS-OF READ of the mixed table (r14, batch): each
    // purchase sees the LAST emission at or before its position —
    // view upserts at their event instant, click-flush upserts
    // visible from their bucket END — interleaved by (visibility
    // instant, event_id, statement index) in one keyed window pass.
    "sql_enrich_mixed_win" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table MixE (user_id long, v double);
        |
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, math:round(value, 2) as v
        |update or insert into MixE on MixE.user_id == user_id;
        |
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MixE on MixE.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join MixE
        |  on MixE.user_id == e.user_id
        |select e.event_id as event_id, MixE.v as v
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    // the same mixed as-of read deployed LIVE (r14): per-event
    // writers hold latest-row-per-key states CARRYING their true
    // __ord, windowed writers hold flush partials, and each trigger
    // runs the one as-of pass with (prior latest ∪ batch rows) as
    // the per-event update relations — prior updates keep their ords,
    // so an old flush can never beat a newer per-event update.
    "sql_app_enrich_mixed_win_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table MixE (user_id long, v double);
        |
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, math:round(value, 2) as v
        |update or insert into MixE on MixE.user_id == user_id;
        |
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MixE on MixE.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join MixE
        |  on MixE.user_id == e.user_id
        |select e.event_id as event_id, MixE.v as v
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // SWEPT mixed as-of read (r14): implicit per-event + windowed
    // flush upserts PLUS a tombstone sweeper on one table — per
    // purchase the LAST mark at or before it decides: an update row
    // is the as-of state, a tombstone means absent (inner join drops
    // the purchase) until a later update revives the key. Live rides
    // the same collapse with a latest-tombstone-per-key state.
    "sql_enrich_mixed_sweep" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table MixS (user_id long, v double);
        |
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, math:round(value, 2) as v
        |update or insert into MixS on MixS.user_id == user_id;
        |
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MixS on MixS.user_id == user_id;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete MixS on MixS.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join MixS
        |  on MixS.user_id == e.user_id
        |select e.event_id as event_id, MixS.v as v
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_enrich_mixed_sweep_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table MixS (user_id long, v double);
        |
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, math:round(value, 2) as v
        |update or insert into MixS on MixS.user_id == user_id;
        |
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MixS on MixS.user_id == user_id;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete MixS on MixS.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join MixS
        |  on MixS.user_id == e.user_id
        |select e.event_id as event_id, MixS.v as v
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // FOLD mixed as-of read (r14): a per-event counter fold and a
    // windowed flush fold on one table — per purchase, the as-of
    // value = the FIRST upsert's insert values + the sum of every
    // later delta at or before it (flush deltas land at bucket END).
    // LONG counter: exact arithmetic, no float-reassociation surface
    // across the collapsed sums.
    "sql_enrich_mixed_fold" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table FCnt (user_id long, cnt long);
        |
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into FCnt
        |  set FCnt.cnt = FCnt.cnt + 1
        |  on FCnt.user_id == user_id;
        |
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt
        |group by user_id
        |update or insert into FCnt
        |  set FCnt.cnt = FCnt.cnt + cnt
        |  on FCnt.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join FCnt
        |  on FCnt.user_id == e.user_id
        |select e.event_id as event_id, FCnt.cnt as cnt
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_enrich_mixed_fold_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table FCnt (user_id long, cnt long);
        |
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into FCnt
        |  set FCnt.cnt = FCnt.cnt + 1
        |  on FCnt.user_id == user_id;
        |
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt
        |group by user_id
        |update or insert into FCnt
        |  set FCnt.cnt = FCnt.cnt + cnt
        |  on FCnt.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join FCnt
        |  on FCnt.user_id == e.user_id
        |select e.event_id as event_id, FCnt.cnt as cnt
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // SHAPE-MIXED table (r15): an IMPLICIT-SET writer (resets the row
    // to its values) and an ACCUMULATOR-FOLD writer (adds its delta)
    // on one keyed table. Final value per key = last reset value (or
    // the first fold upsert's insert values) + Σ later deltas — the
    // interleaved (ts, event_id, statement) replay, collapsed to one
    // keyed window pass (mergeEmissions' upsert+fold arm). LONG
    // counter: exact arithmetic across the collapse.
    "sql_table_shape_mix" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table ShpT (user_id long, cnt long);
        |
        |@info(name = 'reset')
        |from events[event_type == 'view']
        |select user_id, event_id as cnt
        |update or insert into ShpT on ShpT.user_id == user_id;
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into ShpT
        |  set ShpT.cnt = ShpT.cnt + 1
        |  on ShpT.user_id == user_id;
        |
        |@info(name = 'read')
        |from ShpT
        |select user_id, cnt
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // SWEPT shape-mixed table (r15): implicit resets + accumulator
    // folds + tombstone sweepers on one keyed table — a sweep wipes
    // the key; the next reset or fold-insert re-seeds it. Exercises
    // mergeEmissions' upsert+fold arm under tombstones.
    "sql_table_shape_mix_swept" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table ShpS (user_id long, cnt long);
        |
        |@info(name = 'reset')
        |from events[event_type == 'view']
        |select user_id, event_id as cnt
        |update or insert into ShpS on ShpS.user_id == user_id;
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into ShpS
        |  set ShpS.cnt = ShpS.cnt + 1
        |  on ShpS.user_id == user_id;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete ShpS on ShpS.user_id == user_id;
        |
        |@info(name = 'read')
        |from ShpS
        |select user_id, cnt
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // SWEPT shape-mixed as-of read (r15): segments are marked by BOTH
    // tombstones (state absent until the next emission) and implicit
    // resets (state = the reset's values) — the enrichment window
    // pass counts both mark kinds into one segment id.
    "sql_enrich_shape_mix_swept" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table ShpR (user_id long, cnt long);
        |
        |@info(name = 'reset')
        |from events[event_type == 'view']
        |select user_id, event_id as cnt
        |update or insert into ShpR on ShpR.user_id == user_id;
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into ShpR
        |  set ShpR.cnt = ShpR.cnt + 1
        |  on ShpR.user_id == user_id;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete ShpR on ShpR.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join ShpR
        |  on ShpR.user_id == e.user_id
        |select e.event_id as event_id, ShpR.cnt as cnt
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    // SHAPE-MIXED as-of read (r15, VERDICT r14 #3): per purchase the
    // as-of value = the last implicit RESET at or before it plus the
    // fold deltas after that reset (or, with no reset yet, the first
    // fold upsert's insert values plus later deltas) — implicit rows
    // mark fold-segment boundaries carrying zero delta.
    "sql_enrich_mixed_shapes" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table ShpE (user_id long, cnt long);
        |
        |@info(name = 'reset')
        |from events[event_type == 'view']
        |select user_id, event_id as cnt
        |update or insert into ShpE on ShpE.user_id == user_id;
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into ShpE
        |  set ShpE.cnt = ShpE.cnt + 1
        |  on ShpE.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join ShpE
        |  on ShpE.user_id == e.user_id
        |select e.event_id as event_id, ShpE.cnt as cnt
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    // the same shape-mixed read deployed LIVE: rides the per-event
    // multi-writer channel — the accumulated table seeds each
    // trigger's as-of pass at ord −∞ with zero delta, so its value
    // (which already carries every earlier reset + fold) is segment
    // base unless a newer in-batch reset opens a fresh segment.
    "sql_app_enrich_mixed_shapes_live" ->
      ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table ShpE (user_id long, cnt long);
        |
        |@info(name = 'reset')
        |from events[event_type == 'view']
        |select user_id, event_id as cnt
        |update or insert into ShpE on ShpE.user_id == user_id;
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into ShpE
        |  set ShpE.cnt = ShpE.cnt + 1
        |  on ShpE.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join ShpE
        |  on ShpE.user_id == e.user_id
        |select e.event_id as event_id, ShpE.cnt as cnt
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // WINDOWED EVENT-LOG member (r15): a timeBatch INSERT writer's
    // flush rows are log rows whose origin is their bucket END — each
    // 10-min view bucket appends one aggregate row per user alongside
    // the per-event click inserts; sweeps wipe both kinds. One output
    // row per (purchase, live row). Live: flush partials + tagged
    // emission logs feed the same construction per trigger.
    "sql_enrich_log_win" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table CartW (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into CartW;
        |
        |@info(name = 'roll')
        |from events[event_type == 'view']#window.timeBatch(10 min)
        |select user_id, min(event_id) as item,
        |  math:round(sum(value), 2) as v
        |group by user_id
        |insert into CartW;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete CartW on CartW.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join CartW
        |  on CartW.user_id == e.user_id
        |select e.event_id as event_id, CartW.item as item, CartW.v as v
        |order by event_id, item, v
        |insert into Out""".stripMargin)("read")),
    "sql_app_enrich_log_win_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table CartW (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into CartW;
        |
        |@info(name = 'roll')
        |from events[event_type == 'view']#window.timeBatch(10 min)
        |select user_id, min(event_id) as item,
        |  math:round(sum(value), 2) as v
        |group by user_id
        |insert into CartW;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete CartW on CartW.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join CartW
        |  on CartW.user_id == e.user_id
        |select e.event_id as event_id, CartW.item as item, CartW.v as v
        |order by event_id, item, v
        |insert into Out""".stripMargin, "read")),
    // AGGREGATION over the windowed event-log read (r16, VERDICT r15
    // #2): the shared aggregation tail over the event-log channel's
    // per-pair relation — each purchase lands in exactly one trigger
    // with its complete pair set, so per-trigger partials sum to the
    // global aggregation (live-only like every enrich-agg gate:
    // batch enrichment joins are projection-only by design, the
    // DuckDB oracle aggregates the pair relation). Long sums — exact
    // arithmetic, no float-reassociation surface.
    "sql_app_enrich_log_win_agg_live" -> ((s, d) =>
      SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table CartA (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into CartA;
        |
        |@info(name = 'roll')
        |from events[event_type == 'view']#window.timeBatch(10 min)
        |select user_id, min(event_id) as item,
        |  math:round(sum(value), 2) as v
        |group by user_id
        |insert into CartA;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete CartA on CartA.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join CartA
        |  on CartA.user_id == e.user_id
        |select e.user_id as user_id, count() as n,
        |  sum(CartA.item) as s_item
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin, "read")),
    // WINDOWED SHAPE-MIX as-of read (r15): implicit per-event resets,
    // a per-event accumulator fold, AND a windowed implicit writer
    // whose flushes are resets at their bucket ENDS — on one table.
    // Live scopes the fold writer's two-row collapse past the latest
    // PAST reset at every merge (per-event resets + closed-bucket
    // flushes); batch and the as-of pass segment by reset marks.
    "sql_enrich_shape_mix_win" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table SmW (user_id long, cnt long);
        |
        |@info(name = 'rst')
        |from events[event_type == 'view']
        |select user_id, event_id % 1000 as cnt
        |update or insert into SmW on SmW.user_id == user_id;
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into SmW
        |  set SmW.cnt = SmW.cnt + 1
        |  on SmW.user_id == user_id;
        |
        |@info(name = 'wrst')
        |from events[event_type == 'error']#window.timeBatch(10 min)
        |select user_id, count() as cnt
        |group by user_id
        |update or insert into SmW on SmW.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join SmW
        |  on SmW.user_id == e.user_id
        |select e.event_id as event_id, SmW.cnt as cnt
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_enrich_shape_mix_win_live" ->
      ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table SmW (user_id long, cnt long);
        |
        |@info(name = 'rst')
        |from events[event_type == 'view']
        |select user_id, event_id % 1000 as cnt
        |update or insert into SmW on SmW.user_id == user_id;
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into SmW
        |  set SmW.cnt = SmW.cnt + 1
        |  on SmW.user_id == user_id;
        |
        |@info(name = 'wrst')
        |from events[event_type == 'error']#window.timeBatch(10 min)
        |select user_id, count() as cnt
        |group by user_id
        |update or insert into SmW on SmW.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join SmW
        |  on SmW.user_id == e.user_id
        |select e.event_id as event_id, SmW.cnt as cnt
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // MULTI-WINDOWED as-of read (r15): a table written by TWO
    // windowed (timeBatch) writers — different bucket sizes AND
    // different aggregates — joined per-event. Each writer's flush
    // rows are visible from their bucket END; per purchase the last
    // flush across BOTH writers at or before it decides, same-instant
    // flushes tie-broken by statement index (bucket ends coincide at
    // the 70-min LCM). Batch + live run the same one-pass as-of
    // window; live holds one flush-partial state per writer.
    "sql_enrich_multiwin" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table MwT (user_id long, v double);
        |
        |@info(name = 'hi')
        |from events[event_type == 'click' and value >= 150.0]
        |#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MwT on MwT.user_id == user_id;
        |
        |@info(name = 'lo')
        |from events[event_type == 'click' and value < 150.0]
        |#window.timeBatch(7 min)
        |select user_id, math:round(avg(value), 2) as v
        |group by user_id
        |update or insert into MwT on MwT.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join MwT
        |  on MwT.user_id == e.user_id
        |select e.event_id as event_id, MwT.v as v
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_enrich_multiwin_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table MwT (user_id long, v double);
        |
        |@info(name = 'hi')
        |from events[event_type == 'click' and value >= 150.0]
        |#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MwT on MwT.user_id == user_id;
        |
        |@info(name = 'lo')
        |from events[event_type == 'click' and value < 150.0]
        |#window.timeBatch(7 min)
        |select user_id, math:round(avg(value), 2) as v
        |group by user_id
        |update or insert into MwT on MwT.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join MwT
        |  on MwT.user_id == e.user_id
        |select e.event_id as event_id, MwT.v as v
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    "sql_table_two_writers" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table UserLast (user_id long, last_value double,
        |  src string);
        |
        |@info(name = 'clicks')
        |from events[event_type == 'click']
        |select user_id, value as last_value, 'click' as src
        |update or insert into UserLast on UserLast.user_id == user_id;
        |
        |@info(name = 'buys')
        |from events[event_type == 'purchase']
        |select user_id, value as last_value, 'buy' as src
        |update or insert into UserLast on UserLast.user_id == user_id;
        |
        |@info(name = 'read')
        |from UserLast
        |select user_id, math:round(last_value, 2) as last_value, src
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // two ACCUMULATOR-FOLD writers: additive folds commute across the
    // interleaved emission order, insert values = each key's first
    // emission across both writers
    "sql_table_two_writers_fold" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Acc (user_id long, total double, n long);
        |
        |@info(name = 'clicks')
        |from events[event_type == 'click']
        |select user_id, value as total, convert(1, 'long') as n
        |update or insert into Acc
        |  set Acc.total = Acc.total + total, Acc.n = Acc.n + n
        |  on Acc.user_id == user_id;
        |
        |@info(name = 'buys')
        |from events[event_type == 'purchase']
        |select user_id, value * 2.0 as total, convert(1, 'long') as n
        |update or insert into Acc
        |  set Acc.total = Acc.total + total, Acc.n = Acc.n + n
        |  on Acc.user_id == user_id;
        |
        |@info(name = 'read')
        |from Acc
        |select user_id, math:round(total, 2) as total, n
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // the two-writer table deployed LIVE: the fold applies BOTH
    // writers' emissions per trigger in interleaved order
    // (applyDmlMulti — the batch merge is the oracle)
    "sql_app_table_two_writers_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table UserLast (user_id long, last_value double,
        |  src string);
        |
        |@info(name = 'clicks')
        |from events[event_type == 'click']
        |select user_id, value as last_value, 'click' as src
        |update or insert into UserLast on UserLast.user_id == user_id;
        |
        |@info(name = 'buys')
        |from events[event_type == 'purchase']
        |select user_id, value as last_value, 'buy' as src
        |update or insert into UserLast on UserLast.user_id == user_id"""
        .stripMargin, "buys")
      .selectExpr("user_id", "round(last_value, 2) as last_value", "src")
      .orderBy("user_id")),
    // MIXED writers (upsert + delete sweeper) deployed LIVE: the fold
    // applies both writers' emissions per trigger in per-event
    // interleaved order — the purge tombstones its key at its stream
    // position, later updates re-insert (applyDmlMulti's tombstone
    // algebra; the batch sql_table_delete oracle is the truth)
    "sql_app_table_mixed_writers_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Active (user_id long, last_value double);
        |
        |@info(name = 'seed')
        |from events
        |select user_id, value as last_value
        |update or insert into Active on Active.user_id == user_id;
        |
        |@info(name = 'purge')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Active on Active.user_id == user_id""".stripMargin,
      "purge")
      .selectExpr("user_id", "round(last_value, 2) as last_value")
      .orderBy("user_id")),
    // per-event as-of enrichment over a SWEPT table (r11): a purge
    // tombstones the key at its stream position, so a purchase between
    // the purge and the next click finds NO as-of row (inner drops it)
    // while a later click revives the key
    "sql_enrich_tombstone" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Last (user_id long, v double);
        |
        |@info(name = 'seed')
        |from events[event_type == 'click']
        |select user_id, value as v
        |update or insert into Last on Last.user_id == user_id;
        |
        |@info(name = 'purge')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Last on Last.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join Last
        |  on Last.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  math:round(Last.v, 2) as lv
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    // the same app deployed LIVE: the fold maintains the swept table
    // (tombstone interleave) and the within-batch as-of pass sees the
    // batch's own tombstones — the batch twin above is the truth
    "sql_app_enrich_tombstone_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Last (user_id long, v double);
        |
        |@info(name = 'seed')
        |from events[event_type == 'click']
        |select user_id, value as v
        |update or insert into Last on Last.user_id == user_id;
        |
        |@info(name = 'purge')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Last on Last.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join Last
        |  on Last.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  math:round(Last.v, 2) as lv
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // ACCUMULATOR folds over a swept table (r11): the running n/total
    // restart after each purge (segment-scoped running sums) — each
    // purchase sees the clicks since its user's last purge
    "sql_enrich_tombstone_fold" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Acc (user_id long, n long, total double);
        |
        |@info(name = 'seed')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as n, value as total
        |update or insert into Acc
        |  set Acc.n = Acc.n + n, Acc.total = Acc.total + total
        |  on Acc.user_id == user_id;
        |
        |@info(name = 'purge')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Acc on Acc.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join Acc
        |  on Acc.user_id == e.user_id
        |select e.event_id as event_id, Acc.n as n,
        |  math:round(Acc.total, 2) as total
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_enrich_tombstone_fold_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Acc (user_id long, n long, total double);
        |
        |@info(name = 'seed')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as n, value as total
        |update or insert into Acc
        |  set Acc.n = Acc.n + n, Acc.total = Acc.total + total
        |  on Acc.user_id == user_id;
        |
        |@info(name = 'purge')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Acc on Acc.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join Acc
        |  on Acc.user_id == e.user_id
        |select e.event_id as event_id, Acc.n as n,
        |  math:round(Acc.total, 2) as total
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // per-event as-of enrichment against the TWO-writer table: each
    // error sees the latest click-or-purchase update before it
    "sql_enrich_multi" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table UserLast (user_id long, last_value double,
        |  src string);
        |
        |@info(name = 'clicks')
        |from events[event_type == 'click']
        |select user_id, value as last_value, 'click' as src
        |update or insert into UserLast on UserLast.user_id == user_id;
        |
        |@info(name = 'buys')
        |from events[event_type == 'purchase']
        |select user_id, value as last_value, 'buy' as src
        |update or insert into UserLast on UserLast.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'error'] join UserLast
        |  on UserLast.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  math:round(UserLast.last_value, 2) as lv, UserLast.src as src
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    // the same as-of read deployed LIVE — the union of both writers'
    // update rows (statement-index ord tiebreak) feeds the keyed
    // window pass; the batch oracle is truth
    "sql_app_enrich_multi_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table UserLast (user_id long, last_value double,
        |  src string);
        |
        |@info(name = 'clicks')
        |from events[event_type == 'click']
        |select user_id, value as last_value, 'click' as src
        |update or insert into UserLast on UserLast.user_id == user_id;
        |
        |@info(name = 'buys')
        |from events[event_type == 'purchase']
        |select user_id, value as last_value, 'buy' as src
        |update or insert into UserLast on UserLast.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'error'] join UserLast
        |  on UserLast.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  math:round(UserLast.last_value, 2) as lv, UserLast.src as src
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // a WINDOWED-writer table read back through a JOIN (batch): each
    // purchase sees the latest COMPLETED 10-min click flush for its
    // user (bucket end <= event ts) — a flush row is an update row
    // visible from its bucket END, per-event as-of (r11; the former
    // read-at-finish approximation is retired)
    "sql_enrich_window_asof" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table WinStats (user_id long, cnt long, total double);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, math:round(sum(value), 2) as total
        |group by user_id
        |update or insert into WinStats on WinStats.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join WinStats
        |  on WinStats.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  WinStats.cnt as clicks, WinStats.total as click_total
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    // the same app deployed LIVE: the fold keeps the store pattern's
    // per-(bucket, user) flush PARTIALS, derives the post-merge flush
    // relation per trigger, and runs the as-of pass over the batch's
    // events — the batch twin above is the truth
    "sql_app_enrich_window_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table WinStats (user_id long, cnt long, total double);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, math:round(sum(value), 2) as total
        |group by user_id
        |update or insert into WinStats on WinStats.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join WinStats
        |  on WinStats.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  WinStats.cnt as clicks, WinStats.total as click_total
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // AGGREGATION above the windowed-writer as-of join, LIVE (r11):
    // per trigger the as-of rows fold as algebraic keyed partials —
    // purchases with an as-of match count per user with the sum of
    // their as-of click totals
    "sql_app_enrich_window_agg_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table WinStats (user_id long, cnt long, total double);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, math:round(sum(value), 2) as total
        |group by user_id
        |update or insert into WinStats on WinStats.user_id == user_id;
        |
        |@info(name = 'agg')
        |from events as e[event_type == 'purchase'] join WinStats
        |  on WinStats.user_id == e.user_id
        |select e.user_id as user_id, count() as n,
        |  math:round(sum(WinStats.total), 2) as s
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin, "agg")),
    // the STORE pattern deployed LIVE: a windowed aggregate maintains
    // the table — fold state is per-(bucket, user) algebraic partials
    // (a bucket spanning triggers merges componentwise instead of
    // double-applying), flush rows merge at finish in emission order;
    // the batch sql_table_agg_fold oracle is the truth
    "sql_app_table_agg_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Acc (user_id long, flushes long, total double);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, convert(1, 'long') as flushes,
        |  sum(value) as total
        |group by user_id
        |update or insert into Acc
        |  set Acc.flushes = Acc.flushes + 1,
        |      Acc.total = Acc.total + total
        |  on Acc.user_id == user_id""".stripMargin, "roll")
      .selectExpr("user_id", "flushes", "round(total, 2) as total")
      .orderBy("user_id")),
    // the counter-table enrichment loop deployed LIVE: the DML stage
    // FOLDS per-key accumulators, the sibling join sees each event's
    // as-of fold value (insert row + running deltas) — chunking-
    // invariant like sql_app_enrich_live
    "sql_app_enrich_fold_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Counter (user_id long, cnt long, total double);
        |
        |@info(name = 'track')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt, value as total
        |update or insert into Counter
        |  set Counter.cnt = Counter.cnt + 1,
        |      Counter.total = Counter.total + total
        |  on Counter.user_id == user_id;
        |
        |@info(name = 'enrich')
        |from events as e[event_type == 'purchase'] join Counter
        |  on Counter.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  Counter.cnt as clicks, math:round(Counter.total, 2)
        |    as click_total
        |order by event_id
        |insert into Out""".stripMargin, "enrich")),
    // AGGREGATION above the live enrichment join: per trigger the
    // enriched as-of rows compute exactly like the projection form,
    // then fold as algebraic keyed partials — the canonical
    // enrich-then-aggregate pipeline in ONE live stage
    "sql_app_enrich_agg_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Counter (user_id long, cnt long, total double);
        |
        |@info(name = 'track')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt, value as total
        |update or insert into Counter
        |  set Counter.cnt = Counter.cnt + 1,
        |      Counter.total = Counter.total + total
        |  on Counter.user_id == user_id;
        |
        |@info(name = 'agg')
        |from events as e[event_type == 'purchase'] join Counter
        |  on Counter.user_id == e.user_id
        |select e.user_id as user_id, count() as buys,
        |  math:round(sum(Counter.total), 2) as clicksum,
        |  math:round(max(e.value), 2) as maxbuy
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin, "agg")),
    // table-side filter on the live enrichment join: the condition
    // applies to each event's AS-OF state row — failing state = no
    // match at that event (inner join drops it)
    "sql_app_enrich_filtered_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table UserState (user_id long, last_value double,
        |  last_type string);
        |
        |@info(name = 'track')
        |from events[event_type != 'purchase']
        |select user_id, value as last_value, event_type as last_type
        |update or insert into UserState on UserState.user_id == user_id;
        |
        |@info(name = 'enrich')
        |from events as e[event_type == 'purchase']
        |  join UserState[last_value > 100.0 and last_type == 'click']
        |  on UserState.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  UserState.last_value as prev_value, e.value as value
        |order by event_id
        |insert into Out""".stripMargin, "enrich")),
    // the CLOSED enrichment loop deployed LIVE: one stage maintains
    // UserState by keyed MERGE, a sibling query JOINS that table —
    // per-event as-of semantics (each purchase sees the state written
    // by updates at-or-before it in the stream), identical under any
    // micro-batch chunking; the DuckDB ASOF oracle is the truth
    "sql_app_enrich_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table UserState (user_id long, last_value double,
        |  last_type string);
        |
        |@info(name = 'track')
        |from events[event_type != 'purchase']
        |select user_id, value as last_value, event_type as last_type
        |update or insert into UserState on UserState.user_id == user_id;
        |
        |@info(name = 'enrich')
        |from events as e[event_type == 'purchase'] join UserState
        |  on UserState.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  UserState.last_value as prev_value,
        |  UserState.last_type as prev_type, e.value as value
        |order by event_id
        |insert into Out""".stripMargin, "enrich")),
    // unidirectional: only left arrivals trigger — the band keeps one
    // direction (purchases look BACK at errors in the 5-min window)
    "sql_join_unidirectional" -> q(
      """from events as a#window.time(1 min) unidirectional
        |  join events as b#window.time(5 min)
        |  on a.user_id == b.user_id and a.event_type == 'purchase'
        |     and b.event_type == 'error'
        |select a.event_id as buy_id, b.event_id as err_id,
        |  a.user_id as user_id
        |order by buy_id, err_id
        |insert into Out""".stripMargin),
    // geo:distance haversine + unitconversion: factor table
    "sql_geo_units" -> q(
      """from events[event_id < 250]
        |select event_id,
        |  math:round(geo:distance(user_id % 170 - 85.0,
        |    event_id % 350 - 175.0, user_id % 170 - 83.5,
        |    event_id % 350 - 173.0), 1) as dist_m,
        |  math:round(unitconversion:kmTomi(value), 6) as mi,
        |  math:round(unitconversion:cTof(value), 6) as f,
        |  math:round(unitconversion:kgTolb(value), 6) as lb,
        |  math:round(unitconversion:minTos(value), 6) as sec
        |order by event_id
        |insert into Out""".stripMargin),
    // list:/map: collection families + instanceOfX type predicates
    "sql_collections" -> q(
      """from events[event_id < 200]
        |select event_id,
        |  list:get(list:sort(list:create(value, 100.0, 55.5)), 0) as lo,
        |  list:contains(list:create(event_type, 'click'), 'click')
        |    as has_click,
        |  list:size(list:distinct(list:create(1, 2, 2, 3))) as nd,
        |  map:get(map:create('a', value, 'b', 0.0), 'a') as ma,
        |  map:containsKey(map:create('a', 1, 'b', 2), 'c') as has_c,
        |  list:join(map:keys(map:create('x', 1, 'y', 2)), ',') as ks,
        |  instanceOfDouble(value) as is_d,
        |  instanceOfString(event_type) as is_s,
        |  instanceOfLong(event_id) as is_l,
        |  instanceOfDouble(event_type) as not_d
        |order by event_id
        |insert into Out""".stripMargin),
    // sort(N, attr, 'desc'): distributed top-N retention window
    "sql_sort_window" -> q(
      """from events#window.sort(5, value, 'desc')
        |select math:round(sum(value), 2) as sv, count() as n,
        |  math:round(min(value), 2) as vmin
        |insert into Out""".stripMargin),
    // `,` strict-next: the very NEXT event of the user must match
    // MID-pattern absence: `A -> not B for T -> C` — the absence must
    // be confirmed (T elapses, no violating B) before C can bind, so C
    // is the FIRST matching event strictly after the deadline (NFA:
    // the confirming event re-feeds into the next step)
    "sql_pattern_absence_mid" -> q(
      """from every e1=events[event_type == 'error']
        |  -> not events[event_type == 'purchase' and
        |     user_id == e1.user_id] for 5 min
        |  -> e2=events[event_type == 'click']
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as click_id
        |order by start_id
        |insert into Out""".stripMargin),
    // the SAME mid-absence pattern deployed LIVE through the timed
    // re-fold: the deadline's event-time timer only wakes bookkeeping —
    // completion happens at C (an event), so batch and live agree
    "sql_app_absence_mid_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'alerts')
        |from every e1=events[event_type == 'error']
        |  -> not events[event_type == 'purchase' and
        |     user_id == e1.user_id] for 5 min
        |  -> e2=events[event_type == 'click']
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as click_id
        |order by start_id
        |insert into Out""".stripMargin, "alerts")),
    "sql_pattern_strict" -> q(
      """from every e1=events[event_type == 'error'],
        |  e2=events[event_type == 'purchase']
        |select e1.user_id as user_id, e1.event_id as first_id,
        |  e2.event_id as second_id
        |order by first_id
        |insert into strictSeq""".stripMargin),
    // logical or-pair: either branch binds; coalesce projects the taken
    // branch (the untaken binding is null)
    "sql_pattern_logical" -> q(
      """from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase']
        |     or e3=events[event_type == 'signup']
        |  within 5 min
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  coalesce(e2.event_id, e3.event_id) as next_id,
        |  coalesce(e2.event_type, e3.event_type) as next_type
        |order by start_id
        |insert into orMatches""".stripMargin),
    // define window: one feeder, readers share the window spec
    "sql_named_window" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define window HotWin (event_id long, ts_ns long, user_id long,
        |  event_type string, value double) timeBatch(1 min);
        |
        |@info(name = 'feed')
        |from events[value > 100]
        |select event_id, ts_ns, user_id, event_type, value
        |insert into HotWin;
        |
        |@info(name = 'perMin')
        |from HotWin
        |select count() as n, math:round(sum(value), 2) as sv
        |order by w_start_ms
        |insert into Out""".stripMargin)("perMin")),
    // named-window sharing deployed LIVE: the same define-window app,
    // readers compiled as fed-stream#spec on the incremental plan
    "sql_app_window_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define window HotWin (event_id long, ts_ns long, user_id long,
        |  event_type string, value double) timeBatch(1 min);
        |
        |@info(name = 'feed')
        |from events[value > 100]
        |select event_id, ts_ns, user_id, event_type, value
        |insert into HotWin;
        |
        |@info(name = 'perMin')
        |from HotWin
        |select count() as n, math:round(sum(value), 2) as sv
        |order by w_start_ms
        |insert into Out""".stripMargin, "perMin")),
    // LIVE deployment of a compiled app: the same text sql_app_chained
    // replays in batch runs here as a real Structured Streaming topology
    // (MemoryStream micro-batches → filter stage → timeBatch aggregation
    // in complete mode → memory sink); the DuckDB oracle is the batch
    // truth — the batch/stream parity gate for the text front-end
    "sql_app_streaming" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'hot')
        |from events[value > 120]
        |select event_id, ts_ns, user_id, event_type, value
        |insert into HotEvents;
        |
        |@info(name = 'perUserMinute')
        |from HotEvents#window.timeBatch(1 min)
        |select user_id, count() as n, math:round(sum(value), 2) as total
        |group by user_id
        |order by w_start_ms, user_id
        |insert into PerUserMinute""".stripMargin, "perUserMinute")),
    // indexed event access in pattern selects: e1[0] / e2[last] on the
    // proven sql_pattern_seq shape (same oracle; multi-event quantifier
    // indexing is pinned text ≡ DSL in SiddhiQlSpec)
    "sql_pattern_indexed" -> q(
      """from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase' and value > e1.value]
        |  within 5 min
        |select e1[0].user_id as user_id, e1[0].event_id as start_id,
        |  e2[last].event_id as next_id, e2[last].value as next_value
        |order by start_id, next_id
        |insert into alerts""".stripMargin),
    // define trigger + unique:last window + chained gap-fill join: ticks
    // over the stream's span, bucket counts of the per-user LAST events,
    // zero-filled where no bucket exists
    "sql_trigger_unique" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define trigger T at every 10 min;
        |
        |@info(name = 'lastPerUser')
        |from events#window.unique:last(user_id)
        |select event_id, ts_ns, user_id, event_type, value
        |insert into LastPerUser;
        |
        |@info(name = 'buckets')
        |from LastPerUser#window.timeBatch(10 min)
        |select count() as n
        |insert into Buckets;
        |
        |@info(name = 'gapfill')
        |from T as t left outer join Buckets as b
        |  on t.tick_ms == b.w_start_ms
        |select tick_ms, coalesce(n, convert(0, 'long')) as n
        |order by tick_ms
        |insert into Out""".stripMargin)("gapfill")),
    // frequent(N, attr): events of the 3 most frequent types, re-counted
    "sql_frequent_window" -> q(
      """from events#window.frequent(3, event_type)
        |select event_type, count() as n
        |group by event_type
        |order by event_type
        |insert into Out""".stripMargin),
    // keyed partition: lengthBatch chunks count PER USER inside the
    // partition block (outside one, chunking is global)
    "sql_partition" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """partition with (user_id of events)
        |begin
        |  @info(name = 'perUser')
        |  from events#window.lengthBatch(10)
        |  select user_id, math:round(sum(value), 2) as sv, count() as n
        |  order by user_id, chunk_id
        |  insert into Out;
        |end""".stripMargin)("perUser")),
    // range partition: first matching range labels the event; unmatched
    // events leave the partition
    "sql_partition_range" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """partition with (value < 50 as 'low' or value < 150 as 'mid'
        |  or value >= 150 as 'high' of events)
        |begin
        |  @info(name = 'bands')
        |  from events
        |  select partition_key, count() as n,
        |    math:round(sum(value), 2) as sv
        |  order by partition_key
        |  insert into Out;
        |end""".stripMargin)("bands")),
    // define aggregation with the EXTENDED fold algebra: stdDev rides
    // the cascade as Chan (n, mean, M2) moment partials (rolled up via
    // the moment-sum identity), distinctCount as exact value-set
    // partials — both mergeable at any grain, like sum/count
    // the cascade's mergeable APPROX percentile (batch + live twins,
    // sketch-tolerance contract — see pctlGate)
    "sql_incremental_pctl" -> (pctlGate(live = false) _),
    "sql_app_incremental_pctl_live" -> (pctlGate(live = true) _),
    "sql_incremental_stats" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define aggregation EvStats
        |from events
        |select user_id, stdDev(value) as sd,
        |  distinctCount(event_type) as dt, count() as cnt
        |group by user_id
        |aggregate by ts_ns every sec ... day;
        |
        |@info(name = 'read')
        |from EvStats
        |within '2024-01-02 00:00:00', '2024-01-05 00:00:00'
        |per 'hours'
        |select user_id, math:round(sd, 6) as sd, dt, cnt
        |order by bucket_start_ms, user_id
        |insert into Out""".stripMargin)("read")),
    // define aggregation + within/per: sec-grain partials rolled up to
    // the requested grain (incremental-aggregation cascade), range-pruned
    "sql_incremental_agg" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define aggregation EvAgg
        |from events
        |select user_id, sum(value) as total, count() as cnt,
        |  avg(value) as avg_v, max(value) as mx
        |group by user_id
        |aggregate by ts_ns every sec ... day;
        |
        |@info(name = 'read')
        |from EvAgg
        |within '2024-01-02 00:00:00', '2024-01-05 00:00:00'
        |per 'hours'
        |select user_id, math:round(total, 2) as total, cnt, mx
        |order by bucket_start_ms, user_id
        |insert into Out""".stripMargin)("read")),
    // same definition read at the day grain (the grain CASCADE: day rows
    // roll up from the identical sec partials)
    "sql_incremental_agg_days" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define aggregation EvAgg
        |from events[event_type == 'purchase']
        |select sum(value) as total, count() as cnt
        |aggregate by ts_ns every min, hour, day;
        |
        |@info(name = 'read')
        |from EvAgg
        |within 1704153600000, 1704672000000
        |per 'days'
        |select math:round(total, 2) as total, cnt
        |order by bucket_start_ms
        |insert into Out""".stripMargin)("read")),
    // output rate limiting: per-minute LAST event (time-based limiter)
    "sql_rate_limit" -> q(
      """from events[event_type == 'click']
        |select event_id, user_id, value
        |output last every 1 min
        |order by event_id
        |insert into Limited""".stripMargin),
    // snapshot mode: latest value as of every 10-min interval end,
    // gap intervals carrying the previous snapshot forward
    "sql_rate_snapshot" -> q(
      """from events
        |select value as v
        |output snapshot every 10 min
        |order by w_end_ms
        |insert into Snap""".stripMargin),
    // stream→table DML: `update or insert into … on` — per-key
    // last-event-wins MERGE, read back by an on-demand table query
    "sql_table_upsert" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table UserState (user_id long, last_value double,
        |  last_type string);
        |
        |@info(name = 'track')
        |from events[value > 50.0]
        |select user_id, value as last_value, event_type as last_type
        |update or insert into UserState on UserState.user_id == user_id;
        |
        |@info(name = 'read')
        |from UserState
        |select user_id, last_value, last_type
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // seed by whole-row upsert, then `update … set … on` — only users
    // already in the table take the bonus; others stay at the seed row
    "sql_table_update" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Totals (user_id long, base double, bonus double);
        |
        |@info(name = 'seed')
        |from events[event_type == 'signup']
        |select user_id, value as base, 0.0 as bonus
        |update or insert into Totals on Totals.user_id == user_id;
        |
        |@info(name = 'bump')
        |from events[event_type == 'purchase']
        |select user_id, value as bonus
        |update Totals set Totals.bonus = bonus * 2.0
        |on Totals.user_id == user_id;
        |
        |@info(name = 'read')
        |from Totals
        |select user_id, math:round(base, 2) as base,
        |  math:round(bonus, 2) as bonus
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // `delete … on` interleaved with an upsert writer (Siddhi's
    // per-event statement-order replay, since r11): a purge event
    // tombstones its key AT its stream position — later updates
    // re-insert the user, so only a user whose LAST event matches the
    // sweeper ends deleted (2 deleted / 148 alive at sf0.01, with 73
    // of the 148 purged mid-stream then revived — both paths real)
    // EVENT-LOG (multiset) enrichment (r12): `insert into Cart` +
    // keyed `delete Cart` sweeper + `join Cart` — each purchase reads
    // EVERY cart row live for its user at its position (one output
    // row per (event, live row)); an error clears the cart, later
    // clicks refill it — the Siddhi cart pattern, reconstructed by
    // the keyed segment construction (enrichLogCompile)
    "sql_enrich_log" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin)("buy")),
    // the same cart app deployed LIVE: applyDmlMulti maintains the
    // log between triggers, the per-batch segment construction seeds
    // prior rows at ord -inf — the batch twin above is the truth
    "sql_app_enrich_log_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin, "buy")),
    // AGGREGATION above the event-log join, LIVE: per trigger the
    // multiset join rows fold as algebraic keyed partials (the
    // enrich-agg recipe over enrichLogCompile rows)
    "sql_app_enrich_log_agg_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'agg')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.user_id as user_id, count() as n,
        |  math:round(sum(Cart.v), 2) as sv
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin, "agg")),
    // INSERT-ONLY event-log read (r13): the cart pattern with NO
    // sweeper — every purchase reads every prior high-value click of
    // its user. Live, the table state is KEYED on the join columns
    // (not AppendState) so the per-trigger read bucket-restricts to
    // the batch's event keys instead of scanning the whole
    // ever-growing log.
    "sql_enrich_log_insonly" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click' and value > 170.0]
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin)("buy")),
    "sql_app_enrich_log_insonly_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click' and value > 170.0]
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin, "buy")),
    // EVENT-LOG + IMPLICIT-SET UPSERT read (r13): the cart pattern
    // with a third writer that REPLACES every live cart row of its
    // user at its position (update or insert) — each purchase reads
    // every live origin row with the key's last upsert (between the
    // row's origin and the purchase) overlaid; reconstructed by the
    // segment construction plus one running-last window column
    // table-side filter composed with upsert writers (r14, closing
    // the r13 refusal): the filter tests each pair's OVERLAID as-of
    // value (what the event reads), riding the join condition so the
    // left-outer pad machinery treats a failing row as a non-match
    // insert + ACCUMULATOR-FOLD upsert multiset groups (r14): a fold
    // upsert adds its delta to EVERY live row of its key, inserting
    // its select row iff the key is empty at its position; final
    // value = own value + later deltas (total-minus-prefix, key-local)
    "sql_table_insert_fold" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Log (user_id long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click' and value > 120.0]
        |select user_id, value as v
        |insert into Log;
        |
        |@info(name = 'bump')
        |from events[event_type == 'purchase']
        |select user_id, value as v
        |update or insert into Log
        |  set Log.v = Log.v + v
        |  on Log.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete Log on Log.user_id == user_id;
        |
        |@info(name = 'read')
        |from Log
        |select user_id, math:round(v, 2) as v
        |order by user_id, v
        |insert into Out""".stripMargin)("read")),
    // the LIVE twin keeps the fold column a LONG counter (exact
    // arithmetic — the live channel has no read stage to round a
    // float sum in; the double form is the batch gate above)
    "sql_app_table_insert_fold_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Log (user_id long, cnt long);
        |
        |@info(name = 'add')
        |from events[event_type == 'click' and value > 120.0]
        |select user_id, convert(1, 'long') as cnt
        |insert into Log;
        |
        |@info(name = 'bump')
        |from events[event_type == 'purchase']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into Log
        |  set Log.cnt = Log.cnt + cnt
        |  on Log.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete Log on Log.user_id == user_id""".stripMargin, "clear")
      .orderBy("user_id", "cnt")),
    // the same multiset read per-event by an enrichment join: each
    // (purchase, origin) pair carries origin value + the deltas
    // between the origin and the event
    // a `from T select ...` READ stage deployed LIVE (r14): the
    // batch app text runs verbatim — the table fold runs as usual and
    // the read's filter/round/projection/order apply at finish (the
    // end-of-replay snapshot semantics), so float folds are rounded
    // on BOTH surfaces
    "sql_table_read_filtered" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Log (user_id long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click' and value > 120.0]
        |select user_id, value as v
        |insert into Log;
        |
        |@info(name = 'bump')
        |from events[event_type == 'purchase']
        |select user_id, value as v
        |update or insert into Log
        |  set Log.v = Log.v + v
        |  on Log.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete Log on Log.user_id == user_id;
        |
        |@info(name = 'read')
        |from Log[v > 100.0]
        |select user_id, math:round(v, 2) as v
        |order by user_id, v
        |insert into Out""".stripMargin)("read")),
    "sql_app_table_read_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define table Log (user_id long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click' and value > 120.0]
        |select user_id, value as v
        |insert into Log;
        |
        |@info(name = 'bump')
        |from events[event_type == 'purchase']
        |select user_id, value as v
        |update or insert into Log
        |  set Log.v = Log.v + v
        |  on Log.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete Log on Log.user_id == user_id;
        |
        |@info(name = 'read')
        |from Log[v > 100.0]
        |select user_id, math:round(v, 2) as v
        |order by user_id, v
        |insert into Out""".stripMargin, "read")),
    "sql_enrich_log_fold" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'bump')
        |from events[event_type == 'view' and value > 150.0]
        |select user_id, event_id as item, value as v
        |update or insert into Cart
        |  set Cart.v = Cart.v + v
        |  on Cart.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item, v
        |insert into Out""".stripMargin)("buy")),
    "sql_app_enrich_log_fold_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'bump')
        |from events[event_type == 'view' and value > 150.0]
        |select user_id, event_id as item, value as v
        |update or insert into Cart
        |  set Cart.v = Cart.v + v
        |  on Cart.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item, v
        |insert into Out""".stripMargin, "buy")),
    "sql_enrich_log_ups_filtered" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'mark')
        |from events[event_type == 'view' and value > 150.0]
        |select user_id, event_id as item, value as v
        |update or insert into Cart on Cart.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart[v > 100.0]
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin)("buy")),
    "sql_app_enrich_log_ups_filtered_live" -> ((s, d) =>
      SiddhiQL.deployApp(s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'mark')
        |from events[event_type == 'view' and value > 150.0]
        |select user_id, event_id as item, value as v
        |update or insert into Cart on Cart.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart[v > 100.0]
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin, "buy")),
    // the LEFT OUTER form: an event none of whose overlaid rows pass
    // the filter pads (the join-condition placement is what makes
    // this correct)
    "sql_enrich_log_ups_filtered_outer" -> ((s, d) =>
      SiddhiQL.compileApp(s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'mark')
        |from events[event_type == 'view' and value > 150.0]
        |select user_id, event_id as item, value as v
        |update or insert into Cart on Cart.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase']
        |  left outer join Cart[v > 100.0]
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id,
        |  coalesce(Cart.item, convert(-1, 'long')) as item,
        |  math:round(coalesce(Cart.v, 0.0), 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin)("buy")),
    "sql_app_enrich_log_ups_filtered_outer_live" -> ((s, d) =>
      SiddhiQL.deployApp(s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'mark')
        |from events[event_type == 'view' and value > 150.0]
        |select user_id, event_id as item, value as v
        |update or insert into Cart on Cart.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase']
        |  left outer join Cart[v > 100.0]
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id,
        |  coalesce(Cart.item, convert(-1, 'long')) as item,
        |  math:round(coalesce(Cart.v, 0.0), 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin, "buy")),
    "sql_enrich_log_ups" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'mark')
        |from events[event_type == 'view' and value > 150.0]
        |select user_id, event_id as item, value as v
        |update or insert into Cart on Cart.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin)("buy")),
    // the same app deployed LIVE: prior generations seed at ord -inf
    // with their overlays already materialized by the multiset store
    // (applyDmlMulti), so only same-batch upserts overlay per event —
    // the batch replay above is the truth under any chunking
    "sql_app_enrich_log_ups_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'mark')
        |from events[event_type == 'view' and value > 150.0]
        |select user_id, event_id as item, value as v
        |update or insert into Cart on Cart.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin, "buy")),
    // PARTITION-BLOCK DML (r13 decision): a PER-EVENT writer under a
    // KEYED partition is partition-invariant — the keyed view is the
    // unfiltered stream and per-event DML holds no per-key state, so
    // the statement composes exactly as a top-level writer (the
    // wrapper only changes stateful operators). The oracle is the
    // plain last-click-as-of relation, i.e. the UNWRAPPED semantics.
    "sql_partition_dml" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Last (user_id long, v double);
        |
        |partition with (user_id of events)
        |begin
        |@info(name = 'write')
        |from events[event_type == 'click']
        |select user_id, value as v
        |update or insert into Last on Last.user_id == user_id;
        |end;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join Last
        |  on Last.user_id == e.user_id
        |select e.event_id as event_id, math:round(Last.v, 2) as v
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_partition_dml_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Last (user_id long, v double);
        |
        |partition with (user_id of events)
        |begin
        |@info(name = 'write')
        |from events[event_type == 'click']
        |select user_id, value as v
        |update or insert into Last on Last.user_id == user_id;
        |end;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join Last
        |  on Last.user_id == e.user_id
        |select e.event_id as event_id, math:round(Last.v, 2) as v
        |order by event_id
        |insert into Out""".stripMargin, "read")),
    // PARTITION-BLOCK WINDOWED DML (r14, closing the r13 recorded
    // bound): per-key timeBatch window INSTANCES feeding a shared
    // table. With this engine's aligned buckets, per-key instances ==
    // one writer grouped by (key ∪ groupBy) — note NO explicit
    // `group by` below: the partition key is the implicit grouping
    // the hoist adds, which is exactly what distinguishes this gate
    // from sql_table_agg_upsert's top-level form.
    "sql_partition_dml_win" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table LastWin (user_id long, cnt long, total double);
        |
        |partition with (user_id of events)
        |begin
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, sum(value) as total
        |update or insert into LastWin on LastWin.user_id == user_id;
        |end;
        |
        |@info(name = 'read')
        |from LastWin
        |select user_id, cnt, math:round(total, 2) as total
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_partition_dml_win_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table LastWin (user_id long, cnt long, total double);
        |
        |partition with (user_id of events)
        |begin
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, sum(value) as total
        |update or insert into LastWin on LastWin.user_id == user_id;
        |end;
        |
        |@info(name = 'read')
        |from LastWin
        |select user_id, cnt, math:round(total, 2) as total
        |order by user_id
        |insert into Out""".stripMargin, "read")),
    // RANGE-PARTITION per-event DML (r14): the ranges only SCOPE
    // instances — an event outside every range leaves the partition —
    // so the per-event writer sees exactly the events matching ANY
    // range (value > 180 or value > 120 ⇔ value > 120), folded into
    // the writer's filter by the hoist. First-match labels don't
    // affect a per-event writer (every instance runs the same write).
    "sql_partition_dml_range" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table LastBig (user_id long, v double);
        |
        |partition with (value > 180.0 as 'hot'
        |  or value > 120.0 as 'warm' of events)
        |begin
        |@info(name = 'write')
        |from events[event_type == 'click']
        |select user_id, value as v
        |update or insert into LastBig on LastBig.user_id == user_id;
        |end;
        |
        |@info(name = 'read')
        |from LastBig
        |select user_id, math:round(v, 2) as v
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_partition_dml_range_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table LastBig (user_id long, v double);
        |
        |partition with (value > 180.0 as 'hot'
        |  or value > 120.0 as 'warm' of events)
        |begin
        |@info(name = 'write')
        |from events[event_type == 'click']
        |select user_id, value as v
        |update or insert into LastBig on LastBig.user_id == user_id;
        |end;
        |
        |@info(name = 'read')
        |from LastBig
        |select user_id, math:round(v, 2) as v
        |order by user_id
        |insert into Out""".stripMargin, "read")),
    // RANGE-PARTITION WINDOWED DML (r14): per-LABEL window instances
    // = one hoisted writer per label carrying the first-match-wins
    // filter (high = value>=150; mid = [50,150)), composed by
    // applyDmlMulti's interleaved order algebra — same-instant
    // flushes of different labels tie-break on statement index (the
    // reference leaves concurrent instance flush order unspecified).
    // LIVE deploys through multiWindowedDmlFold: one flush-partial
    // state per label writer, finish = the batch merge tail (shared
    // code — the all-windowed multi-writer bound, deleted).
    "sql_partition_dml_range_win" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table RWin (user_id long, cnt long, total double);
        |
        |partition with (value >= 150.0 as 'high'
        |  or value >= 50.0 as 'mid' of events)
        |begin
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, sum(value) as total
        |group by user_id
        |update or insert into RWin on RWin.user_id == user_id;
        |end;
        |
        |@info(name = 'read')
        |from RWin
        |select user_id, cnt, math:round(total, 2) as total
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    "sql_app_partition_dml_range_win_live" -> ((s, d) =>
      SiddhiQL.deployApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table RWin (user_id long, cnt long, total double);
        |
        |partition with (value >= 150.0 as 'high'
        |  or value >= 50.0 as 'mid' of events)
        |begin
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, sum(value) as total
        |group by user_id
        |update or insert into RWin on RWin.user_id == user_id;
        |end;
        |
        |@info(name = 'read')
        |from RWin
        |select user_id, cnt, math:round(total, 2) as total
        |order by user_id
        |insert into Out""".stripMargin, "read")),
    // SELF-INSERT visibility (r13, ADVICE r12): the read filter
    // OVERLAPS the insert writer's filter — a high-value click both
    // appends to the cart AND reads it. Statement order is the truth
    // (Siddhi fires queries in definition order per event): 'add'
    // precedes 'read', so the click sees its OWN insert — the oracle
    // encodes at-or-before (a.event_id <= e.event_id on ts ties)
    // where the disjoint-filter gates use strictly-earlier
    "sql_enrich_log_self" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase' or
        |    (event_type == 'click' and value > 190.0)] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin)("read")),
    // the same overlapping-filter app deployed LIVE: the per-batch
    // segment construction ranks events after their own same-instant
    // writer emissions (w = statement index < MaxValue), so the
    // self-insert stays visible under any chunking
    "sql_app_enrich_log_self_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Cart (user_id long, item long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase' or
        |    (event_type == 'click' and value > 190.0)] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item,
        |  math:round(Cart.v, 2) as v
        |order by event_id, item
        |insert into Out""".stripMargin, "read")),
    // INSERT + DELETE writer group (r12): inserts are independent
    // rows (no key collapse); a purchase tombstones its user at its
    // stream position, wiping every earlier inserted row for that
    // user — later inserts re-populate the key (and an event flowing
    // through both statements wipes its own insert, the
    // statement-index tiebreak)
    "sql_table_insert_delete" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Log (event_id long, user_id long, v double);
        |
        |@info(name = 'add')
        |from events[value > 150.0]
        |select event_id, user_id, value as v
        |insert into Log;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'purchase']
        |select user_id
        |delete Log on Log.user_id == user_id;
        |
        |@info(name = 'read')
        |from Log
        |select event_id, user_id, math:round(v, 2) as v
        |order by event_id
        |insert into Out""".stripMargin)("read")),
    // the same insert+delete group deployed LIVE: the per-trigger
    // fold wipes prior-generation rows under any tombstone and
    // filters the batch's own inserts by interleaved order — the
    // batch replay above is the truth
    "sql_app_table_insert_delete_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Log (event_id long, user_id long, v double);
        |
        |@info(name = 'add')
        |from events[value > 150.0]
        |select event_id, user_id, value as v
        |insert into Log;
        |
        |@info(name = 'sweep')
        |from events[event_type == 'purchase']
        |select user_id
        |delete Log on Log.user_id == user_id""".stripMargin, "sweep")
      .selectExpr("event_id", "user_id", "round(v, 2) as v")
      .orderBy("event_id")),
    // INSERT + IMPLICIT-SET UPSERT + DELETE writer group (r13): the
    // table is a keyed MULTISET — clicks append independent rows, a
    // purchase REPLACES every live row of its user with its own
    // values (inserting one iff the user has none), an error sweeps
    // the user. Row counts are preserved by upserts and grown by
    // inserts — the duplicate-row replay the r12 scaladoc called
    // row-level is key-algebraic for the IMPLICIT set (only the LAST
    // upsert per key can win), which is what composes it.
    "sql_table_insert_upsert" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Log (user_id long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click' and value > 120.0]
        |select user_id, value as v
        |insert into Log;
        |
        |@info(name = 'mark')
        |from events[event_type == 'purchase']
        |select user_id, value as v
        |update or insert into Log on Log.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete Log on Log.user_id == user_id;
        |
        |@info(name = 'read')
        |from Log
        |select user_id, math:round(v, 2) as v
        |order by user_id, v
        |insert into Out""".stripMargin)("read")),
    // the same multiset group deployed LIVE: prior-generation rows
    // seed at ord -inf (an upsert in a later chunk still overwrites
    // them; a batch tombstone still wipes them), so the batch replay
    // above is the truth under any chunking
    "sql_app_table_insert_upsert_live" -> ((s, d) => SiddhiQL.deployApp(
      s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table Log (user_id long, v double);
        |
        |@info(name = 'add')
        |from events[event_type == 'click' and value > 120.0]
        |select user_id, value as v
        |insert into Log;
        |
        |@info(name = 'mark')
        |from events[event_type == 'purchase']
        |select user_id, value as v
        |update or insert into Log on Log.user_id == user_id;
        |
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete Log on Log.user_id == user_id""".stripMargin, "clear")
      .selectExpr("user_id", "round(v, 2) as v")
      .orderBy("user_id", "v")),
    "sql_table_delete" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Active (user_id long, last_value double);
        |
        |@info(name = 'seed')
        |from events
        |select user_id, value as last_value
        |update or insert into Active on Active.user_id == user_id;
        |
        |@info(name = 'purge')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Active on Active.user_id == user_id;
        |
        |@info(name = 'read')
        |from Active
        |select user_id, last_value
        |order by user_id
        |insert into Out""".stripMargin)("read")),
    // expression window: retain-while predicate fold. `count() < 7`
    // retains exactly the last 6 events per key, so the frame is
    // integer-exact and the DuckDB window oracle reproduces it
    "sql_expression_window" -> q(
      """from events#window.expression('count() < 7')
        |select event_id, user_id, count() as occ,
        |  math:round(sum(value), 2) as sv
        |group by user_id
        |order by event_id
        |insert into Out""".stripMargin),
    // `attr in Table` membership filter = LEFT SEMI join (SURVEY §2.2);
    // the Vips table is itself fed by a DML query in the same app
    // script UDFs: define function bodies (JS-expression subset) compile
    // natively and INLINE into the query plan — incl. a function calling
    // an earlier-defined one and JS string concatenation via `+`
    "sql_script_udf" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define function pct[javascript] return double {
        |  return data[0] / 100.0;
        |};
        |define function taxed[javascript] return double {
        |  return data[0] * (1 + pct(data[1]));
        |};
        |define function sizeTag[javascript] return string {
        |  return data[0] + "-" + (data[1] > 200000 ? "big" : "small");
        |};
        |
        |@info(name = 'priced')
        |from orders[o_totalprice > 150000.0]
        |select o_orderkey, taxed(o_totalprice, 7) as taxed_price,
        |  sizeTag(o_orderstatus, o_totalprice) as tag
        |order by o_orderkey
        |insert into Out""".stripMargin)("priced")),
    "sql_in_table" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table Vips (user_id long);
        |
        |from events[value > 195.0]
        |select user_id
        |insert into Vips;
        |
        |@info(name = 'vip_low')
        |from events[user_id in Vips and value < 5.0]
        |select event_id, user_id, value
        |order by event_id
        |insert into Out""".stripMargin)("vip_low")),
    // on-demand store query: `from T on cond select ...` against a
    // table the app's DML populated (the reference's store-query API)
    "sql_store_query" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table LastSeen (user_id long, last_value double);
        |
        |from events
        |select user_id, value as last_value
        |update or insert into LastSeen on LastSeen.user_id == user_id;
        |
        |@info(name = 'hot')
        |from LastSeen on last_value > 150.0
        |select user_id, last_value
        |order by user_id
        |insert into Out""".stripMargin)("hot")),
    // ON-DEMAND DML (r16, SURVEY §2.7): Siddhi's runtime query()
    // mutation forms, point-in-time after the writers' replay —
    // `update T set … on cond` then a store read of the mutated state
    "sql_store_update" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table LastU (user_id long, last_value double);
        |
        |from events
        |select user_id, value as last_value
        |update or insert into LastU on LastU.user_id == user_id;
        |
        |update LastU
        |  set LastU.last_value = LastU.last_value * 2.0
        |  on LastU.last_value > 150.0;
        |
        |@info(name = 'hot')
        |from LastU on last_value > 250.0
        |select user_id, last_value
        |order by user_id
        |insert into Out""".stripMargin)("hot")),
    // `delete T on cond` — the point-in-time purge, read back whole
    "sql_store_delete" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define table LastD (user_id long, last_value double);
        |
        |from events
        |select user_id, value as last_value
        |update or insert into LastD on LastD.user_id == user_id;
        |
        |delete LastD on LastD.last_value < 100.0;
        |
        |@info(name = 'left')
        |from LastD on user_id >= 0
        |select user_id, last_value
        |order by user_id
        |insert into Out""".stripMargin)("left")),
    // delay window re-timestamps events T later; chained through a named
    // stream, the downstream timeBatch buckets by the DELAYED time
    "sql_delay_chained" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'shifted')
        |from events#window.delay(90 sec)
        |select user_id, ts_ns, event_id, value
        |insert into Delayed;
        |
        |@info(name = 'perMin')
        |from Delayed#window.timeBatch(1 min)
        |select count() as n, math:round(sum(value), 2) as total
        |order by w_start_ms
        |insert into Out""".stripMargin)("perMin")),
    // cron window: emission on the Quartz marks = cron-aligned buckets
    "sql_cron_window" -> q(
      """from events#window.cron('0 0/15 * * * ?')
        |select count() as n, math:round(avg(value), 6) as avg_value
        |order by cron_tick_ms
        |insert into Out""".stripMargin),
    // timeLength(T, N): the last min(N, #within-T) events per key —
    // general aggregates over the pruned bounded buffer
    "sql_timelength" -> q(
      """from events#window.timeLength(2 min, 10)
        |select event_id, user_id, count() as occ,
        |  math:round(sum(value), 2) as sv, max(value) as mx
        |group by user_id
        |order by event_id
        |insert into Out""".stripMargin),
    // multiple queries inserting into ONE named stream = the reference's
    // fan-in (StreamJunction merging publishers): the downstream reader
    // sees the UNION of every writer
    "sql_multi_writer" -> ((s, d) => SiddhiQL.compileApp(s, d,
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'spikes')
        |from events[value > 180]
        |select user_id, 'spike' as reason, value
        |insert into Alerts;
        |
        |@info(name = 'errors')
        |from events[event_type == 'error']
        |select user_id, 'error' as reason, value
        |insert into Alerts;
        |
        |@info(name = 'summary')
        |from Alerts
        |select user_id, reason, count() as n,
        |  math:round(sum(value), 2) as total
        |group by user_id, reason
        |order by user_id, reason
        |insert into Out""".stripMargin)("summary")),
    "sql_pattern_seq" -> q(
      """from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase' and value > e1.value]
        |  within 5 min
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as next_id, e2.value as next_value
        |order by start_id, next_id
        |insert into alerts""".stripMargin),
    // the SAME pattern text deployed LIVE: the per-key NFA re-fold over
    // micro-batches; the batch recursive-state-machine oracle is truth
    "sql_app_pattern_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'alerts')
        |from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase' and value > e1.value]
        |  within 5 min
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as next_id, e2.value as next_value
        |order by start_id, next_id
        |insert into alerts""".stripMargin, "alerts")),
    // `define trigger` deployed LIVE: tick generation is event-time-
    // span driven (the batch compile's rule), tracked incrementally in
    // ONE (lo, hi) fold-state row; finish explodes the tick sequence
    // and runs the read query's compile over it
    "sql_app_trigger_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define trigger T at every 10 min;
        |
        |@info(name = 'ticks')
        |from T[tick_ms % (3600 * 1000) == 0]
        |select tick_ms, tick_ms / (3600 * 1000) as hour_no
        |order by tick_ms
        |insert into Out""".stripMargin, "ticks")),
    // the SAME define-aggregation app deployed LIVE: finest-grain
    // partials fold into bucket-keyed state per trigger (write cost
    // O(batch-touched buckets)); the sibling read rolls the cascade up
    // at finish — the batch sql_incremental_agg oracle is truth
    // the stats define-aggregation deployed LIVE: stdDev moments and
    // distinctCount value sets fold as bucketed KeyedState partials
    // per trigger — the r9 "algebraic aggregates only" refusal on the
    // live grain cascade, deleted
    "sql_app_incremental_stats_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define aggregation EvStats
        |from events
        |select user_id, stdDev(value) as sd,
        |  distinctCount(event_type) as dt, count() as cnt
        |group by user_id
        |aggregate by ts_ns every sec ... day;
        |
        |@info(name = 'read')
        |from EvStats
        |within '2024-01-02 00:00:00', '2024-01-05 00:00:00'
        |per 'hours'
        |select user_id, math:round(sd, 6) as sd, dt, cnt
        |order by bucket_start_ms, user_id
        |insert into Out""".stripMargin, "read")),
    "sql_app_incremental_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """define aggregation EvAgg
        |from events
        |select user_id, sum(value) as total, count() as cnt,
        |  avg(value) as avg_v, max(value) as mx
        |group by user_id
        |aggregate by ts_ns every sec ... day;
        |
        |@info(name = 'read')
        |from EvAgg
        |within '2024-01-02 00:00:00', '2024-01-05 00:00:00'
        |per 'hours'
        |select user_id, math:round(total, 2) as total, cnt, mx
        |order by bucket_start_ms, user_id
        |insert into Out""".stripMargin, "read")),
    // the absence app WITH a `within` deadline: semantically identical
    // here (the 5-min absence window closes before the 30-min pattern
    // deadline), but `within` + `every` arms the timed re-fold's
    // horizon-bounded EVICTION — per-key history stays in the
    // (watermark lag + within) band instead of growing with the stream
    "sql_app_absence_within_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'alerts')
        |from every e1=events[event_type == 'error']
        |  -> not events[event_type == 'purchase' and
        |     user_id == e1.user_id] for 5 min
        |  within 30 min
        |select e1.user_id as user_id, e1.event_id as event_id
        |order by event_id
        |insert into alerts""".stripMargin, "alerts")),
    // `not X for T` deployed LIVE: the flagship "no ACK within T"
    // absence app — deadlines are EVENT-TIME TIMERS in the timed
    // re-fold (a match emits when the watermark passes its deadline,
    // not at a next event that may never come); the NOT EXISTS batch
    // replay is truth
    "sql_app_absence_live" -> ((s, d) => SiddhiQL.deployApp(s, d,
      """@info(name = 'alerts')
        |from every e1=events[event_type == 'error']
        |  -> not events[event_type == 'purchase' and
        |     user_id == e1.user_id] for 5 min
        |select e1.user_id as user_id, e1.event_id as event_id
        |order by event_id
        |insert into alerts""".stripMargin, "alerts"))
  )

  /** Shared by the batch form and its live twin: aggregate the
    * windowed event-log live-row pairs per purchase user. The inner
    * relation is the `sql_enrich_log_win` construction verbatim
    * (click inserts at their instant ∪ 10-min view flush rows at
    * their bucket END, tombstone-segmented); the wrap groups it.
    * Long sums — exact arithmetic, order-free. */
  private val logWinAggOracle: String =
    """WITH lr AS (
      |  SELECT user_id, event_id AS item, value AS v,
      |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
      |      w := CAST(0 AS BIGINT)) AS ro
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, min(event_id) AS item,
      |    round(sum(value), 2) AS v,
      |    struct_pack(
      |      o_ts := (epoch_ns(ts) // 600000000000 + 1)
      |        * 600000000000,
      |      o_id := CAST(0 AS BIGINT), w := CAST(1 AS BIGINT)) AS ro
      |  FROM events WHERE event_type = 'view'
      |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
      |tmb AS (
      |  SELECT user_id,
      |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
      |      w := CAST(2 AS BIGINT)) AS ro
      |  FROM events WHERE event_type = 'error' AND value > 170.0)
      |SELECT user_id, count(*) AS n,
      |  CAST(sum(item) AS BIGINT) AS s_item
      |FROM (
      |  SELECT e.user_id AS user_id, l.item AS item
      |  FROM events e
      |  JOIN lr l ON l.user_id = e.user_id
      |    AND l.ro <= struct_pack(o_ts := epoch_ns(e.ts),
      |      o_id := e.event_id,
      |      w := CAST(9223372036854775807 AS BIGINT))
      |    AND NOT EXISTS (
      |      SELECT 1 FROM tmb t WHERE t.user_id = e.user_id
      |        AND t.ro > l.ro
      |        AND t.ro <= struct_pack(o_ts := epoch_ns(e.ts),
      |          o_id := e.event_id,
      |          w := CAST(9223372036854775807 AS BIGINT)))
      |  WHERE e.event_type = 'purchase')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "sql_expression_window" ->
      """SELECT event_id, user_id, count(*) OVER w AS occ,
        |  round(sum(value) OVER w, 2) AS sv
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "sql_in_table" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value < 5.0 AND user_id IN (
        |  SELECT user_id FROM events WHERE value > 195.0)
        |ORDER BY event_id""".stripMargin,
    // ms mirrors Spark's ANSI `ts_ns / 1000000`: integral `/` is EXACT
    // decimal division there, and the bigint cast truncates — for
    // positive ns that is integer division (DuckDB `//`; a double
    // division here would drift at ns magnitude, beyond 2^53)
    "sql_functions2" ->
      """WITH b AS (SELECT event_id, event_type, value,
        |    epoch_ns(ts) // 1000000 AS ms
        |  FROM events WHERE event_id < 300)
        |SELECT event_id,
        |  str_split(event_type, 'i')[2] AS piece,
        |  (CASE WHEN event_type < 'click' THEN -1
        |        WHEN event_type = 'click' THEN 0 ELSE 1 END) AS cmp,
        |  lower(hex(substring(event_type, 1, 2))) AS hx,
        |  round(cbrt(value), 6) AS cb,
        |  round(degrees(value / 100.0), 6) AS deg,
        |  CAST('2.5' AS DOUBLE) AS pd,
        |  round(pi() * 1000000, 0) AS pim,
        |  strftime(make_timestamp(ms * 1000), '%Y-%m-%d %H') AS fmt,
        |  ms + 2 * 3600000 AS plus2h,
        |  (ms - 1704067200000) // 86400000 AS days_since,
        |  dayname(make_timestamp(ms * 1000)) AS dow
        |FROM b ORDER BY event_id""".stripMargin,
    "sql_app_cron_live" ->
      """SELECT epoch_ms(ts) // 900000 * 900000 AS cron_tick_ms,
        |  count(*) AS n, round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1 ORDER BY cron_tick_ms""".stripMargin,
    "sql_app_delay_live" ->
      """SELECT (epoch_ms(ts) + 90000) // 60000 * 60000 AS w_start_ms,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1 ORDER BY w_start_ms""".stripMargin,
    "sql_app_timelength_live" ->
      """WITH b AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS tn,
        |    list(struct_pack(tn := epoch_ns(ts), v := value)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS buf
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id,
        |    list_filter(buf, s -> s.tn >= tn - 120000000000) AS win
        |  FROM b)
        |SELECT event_id, user_id, CAST(len(win) AS BIGINT) AS occ,
        |  round(list_sum(list_transform(win, s -> s.v)), 2) AS sv,
        |  list_max(list_transform(win, s -> s.v)) AS mx
        |FROM w ORDER BY event_id""".stripMargin,
    // count()<7 retain-while = the exact last-6 frame per user
    "sql_app_expression_live" ->
      """SELECT event_id, user_id, count(*) OVER w AS occ,
        |  round(sum(value) OVER w, 2) AS sv
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // first event per user in replay order
    "sql_app_unique_live" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "sql_app_length_live" ->
      """SELECT event_id, user_id, round(sum(value) OVER w, 2) AS s20,
        |  count(*) OVER w AS n20
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "sql_app_session_live" ->
      """WITH marked AS (
        |  SELECT user_id, value, epoch_ms(ts) AS ms,
        |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) > 120000
        |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sess AS (
        |  SELECT user_id, value, ms, sum(brk) OVER (
        |    PARTITION BY user_id ORDER BY ms
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT min(ms) AS w_start_ms, max(ms) + 120000 AS w_end_ms,
        |  user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, w_start_ms""".stripMargin,
    // first filtered event of each 1-min interval in replay order
    "sql_app_rate_live" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value, row_number() OVER (
        |    PARTITION BY epoch_ns(ts) // 60000000000
        |    ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events WHERE value > 100.0)
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin,
    // last filtered event of each 1-min interval in replay order
    "sql_app_rate_last_live" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value, row_number() OVER (
        |    PARTITION BY epoch_ns(ts) // 60000000000
        |    ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |  FROM events WHERE value > 100.0)
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin,
    // `output all` batches emission, never content
    "sql_app_rate_all_live" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value > 150.0 ORDER BY event_id""".stripMargin,
    // latest value per 10-min interval end, gap-filled forward
    // (the live fold of the sql_rate_snapshot shape)
    "sql_app_rate_snapshot_live" ->
      """WITH ranked AS (
        |  SELECT value, epoch_ns(ts) // 600000000000 AS iv,
        |    row_number() OVER (PARTITION BY epoch_ns(ts) // 600000000000
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |lastv AS (SELECT iv, value FROM ranked WHERE rn = 1),
        |bounds AS (SELECT min(iv) AS lo, max(iv) AS hi FROM lastv),
        |ticks AS (SELECT unnest(range(lo, hi + 1)) AS iv FROM bounds)
        |SELECT (t.iv + 1) * 600000 AS w_end_ms,
        |  last_value(l.value IGNORE NULLS) OVER (ORDER BY t.iv
        |    ROWS UNBOUNDED PRECEDING) AS v
        |FROM ticks t LEFT JOIN lastv l ON l.iv = t.iv
        |ORDER BY w_end_ms""".stripMargin,
    "sql_app_join_live" ->
      """SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |  a.user_id AS user_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'error'
        | AND b.event_type = 'purchase'
        | AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |     BETWEEN -600000000000 AND 600000000000
        |ORDER BY err_id, buy_id""".stripMargin,
    "sql_app_join_agg_live" ->
      """WITH pairs AS (
        |  SELECT a.user_id AS user_id, b.value AS value, a.ts AS ats
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -600000000000 AND 600000000000)
        |SELECT epoch_ms(ats) // 60000 * 60000 AS w_start_ms, user_id,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM pairs GROUP BY 1, 2
        |ORDER BY w_start_ms, user_id""".stripMargin,
    "sql_join_length_window" ->
      """WITH a AS (SELECT *, row_number() OVER (ORDER BY epoch_ns(ts),
        |    event_id) AS seq FROM events WHERE event_type = 'error'),
        |b AS (SELECT *, row_number() OVER (ORDER BY epoch_ns(ts),
        |    event_id) AS seq FROM events WHERE event_type = 'purchase'),
        |am AS (SELECT a.event_id, (SELECT count(*) FROM b
        |  WHERE (epoch_ns(b.ts), b.event_id)
        |      < (epoch_ns(a.ts), a.event_id)) AS cntb FROM a),
        |bm AS (SELECT b.event_id, (SELECT count(*) FROM a
        |  WHERE (epoch_ns(a.ts), a.event_id)
        |      < (epoch_ns(b.ts), b.event_id)) AS cnta FROM b)
        |SELECT a.event_id AS err_id, b.event_id AS buy_id
        |FROM a JOIN am ON am.event_id = a.event_id
        |JOIN b ON a.user_id = b.user_id
        |JOIN bm ON bm.event_id = b.event_id
        |WHERE (((epoch_ns(b.ts), b.event_id)
        |          < (epoch_ns(a.ts), a.event_id) AND b.seq > am.cntb - 80)
        |   OR ((epoch_ns(a.ts), a.event_id)
        |          < (epoch_ns(b.ts), b.event_id) AND a.seq > bm.cnta - 50))
        |ORDER BY err_id, buy_id""".stripMargin,
    "sql_join_lengthbatch_window" ->
      """WITH a AS (SELECT * FROM events WHERE event_type = 'error'),
        |b AS (SELECT *, row_number() OVER (ORDER BY epoch_ns(ts),
        |    event_id) AS seq FROM events WHERE event_type = 'purchase'),
        |am AS (SELECT a.event_id, (SELECT count(*) FROM b
        |  WHERE (epoch_ns(b.ts), b.event_id)
        |      < (epoch_ns(a.ts), a.event_id)) AS cntb FROM a)
        |SELECT a.event_id AS err_id, b.event_id AS buy_id
        |FROM a JOIN am ON am.event_id = a.event_id
        |JOIN b ON a.user_id = b.user_id
        |WHERE (((epoch_ns(b.ts), b.event_id)
        |          < (epoch_ns(a.ts), a.event_id)
        |        AND b.seq > (am.cntb // 40) * 40)
        |   OR ((epoch_ns(a.ts), a.event_id)
        |          < (epoch_ns(b.ts), b.event_id)
        |        AND epoch_ns(b.ts) - epoch_ns(a.ts) <= 600000000000))
        |ORDER BY err_id, buy_id""".stripMargin,
    "sql_app_join_timebatch_live" ->
      """WITH a AS (SELECT * FROM events WHERE event_type = 'error'),
        |b AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT a.event_id AS err_id, b.event_id AS buy_id
        |FROM a JOIN b ON a.user_id = b.user_id
        |WHERE epoch_ns(a.ts) // 600000000000
        |    = epoch_ns(b.ts) // 600000000000
        |ORDER BY err_id, buy_id""".stripMargin,
    "sql_join_timebatch_window" ->
      """WITH a AS (SELECT * FROM events WHERE event_type = 'error'),
        |b AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT a.event_id AS err_id, b.event_id AS buy_id
        |FROM a JOIN b ON a.user_id = b.user_id
        |WHERE epoch_ns(a.ts) // 600000000000
        |    = epoch_ns(b.ts) // 600000000000
        |ORDER BY err_id, buy_id""".stripMargin,
    // named windows fed by the same filters join identically
    "sql_join_named_window" ->
      """WITH a AS (SELECT * FROM events WHERE event_type = 'error'),
        |b AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT a.event_id AS err_id, b.event_id AS buy_id
        |FROM a JOIN b ON a.user_id = b.user_id
        |WHERE epoch_ns(a.ts) // 600000000000
        |    = epoch_ns(b.ts) // 600000000000
        |ORDER BY err_id, buy_id""".stripMargin,
    "sql_rate_count" ->
      """WITH f AS (SELECT event_id, user_id, row_number()
        |  OVER (ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events WHERE value > 100.0)
        |SELECT event_id, user_id FROM f
        |WHERE (rn - 1) % 5 = 0 ORDER BY event_id""".stripMargin,
    // every 4th pair emission, first of each chunk
    "sql_rate_join_count" ->
      """WITH p AS (
        |  SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |    a.user_id AS user_id,
        |    greatest(epoch_ns(a.ts), epoch_ns(b.ts)) AS emit
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -600000000000 AND 600000000000),
        |r AS (SELECT *, row_number() OVER (ORDER BY emit, err_id,
        |  buy_id) AS rn FROM p)
        |SELECT err_id, buy_id, user_id FROM r
        |WHERE (rn - 1) % 4 = 0 ORDER BY err_id, buy_id""".stripMargin,
    // table-on-left inner enrichment ≡ the stream-left as-of form
    "sql_enrich_table_left" ->
      """WITH u AS (SELECT user_id, value AS last_value,
        |    epoch_ns(ts) AS uts, event_id AS uid
        |  FROM events WHERE event_type = 'click'),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT e.event_id, e.user_id, u.last_value,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY u.uts DESC, u.uid DESC) AS rn
        |  FROM e JOIN u ON u.user_id = e.user_id
        |   AND (u.uts, u.uid) < (e.ets, e.event_id))
        |SELECT event_id, user_id, round(last_value, 2) AS lv
        |FROM m WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "sql_app_enrich_left_live" ->
      """WITH u AS (SELECT user_id, value AS last_value,
        |    epoch_ns(ts) AS uts, event_id AS uid
        |  FROM events WHERE event_type = 'click'),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT e.event_id, e.user_id, u.last_value,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY u.uts DESC, u.uid DESC) AS rn
        |  FROM e JOIN u ON u.user_id = e.user_id
        |   AND (u.uts, u.uid) < (e.ets, e.event_id))
        |SELECT event_id, user_id, round(last_value, 2) AS lv
        |FROM m WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // interleaved multi-writer last-wins: per user the LAST event
    // across both types, whichever writer emitted it
    "sql_table_two_writers" ->
      """SELECT user_id, round(last_value, 2) AS last_value, src FROM (
        |  SELECT user_id, value AS last_value,
        |    CASE WHEN event_type = 'click' THEN 'click'
        |         ELSE 'buy' END AS src,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type IN ('click', 'purchase')) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // additive folds across both writers' emissions
    "sql_table_two_writers_fold" ->
      """SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'click' THEN value
        |    ELSE value * 2 END), 2) AS total,
        |  count(*) AS n
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "sql_app_table_two_writers_live" ->
      """SELECT user_id, round(last_value, 2) AS last_value, src FROM (
        |  SELECT user_id, value AS last_value,
        |    CASE WHEN event_type = 'click' THEN 'click'
        |         ELSE 'buy' END AS src,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type IN ('click', 'purchase')) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // per-event as-of against the union of both writers' updates:
    // each error's latest strictly-earlier click-or-purchase
    "sql_enrich_multi" ->
      """WITH u AS (
        |  SELECT user_id, value AS last_value,
        |    CASE WHEN event_type = 'click' THEN 'click'
        |         ELSE 'buy' END AS src,
        |    epoch_ns(ts) AS uts, event_id AS uid
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'error'),
        |m AS (
        |  SELECT e.event_id, e.user_id, u.last_value, u.src,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY u.uts DESC, u.uid DESC) AS rn
        |  FROM e JOIN u ON u.user_id = e.user_id
        |   AND (u.uts, u.uid) < (e.ets, e.event_id))
        |SELECT event_id, user_id, round(last_value, 2) AS lv, src
        |FROM m WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "sql_app_enrich_multi_live" ->
      """WITH u AS (
        |  SELECT user_id, value AS last_value,
        |    CASE WHEN event_type = 'click' THEN 'click'
        |         ELSE 'buy' END AS src,
        |    epoch_ns(ts) AS uts, event_id AS uid
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'error'),
        |m AS (
        |  SELECT e.event_id, e.user_id, u.last_value, u.src,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY u.uts DESC, u.uid DESC) AS rn
        |  FROM e JOIN u ON u.user_id = e.user_id
        |   AND (u.uts, u.uid) < (e.ets, e.event_id))
        |SELECT event_id, user_id, round(last_value, 2) AS lv, src
        |FROM m WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // read-at-finish: purchases joined against the FINAL flush table
    // (per user the last 10-min click window's aggregate row)
    // segment-scoped running totals: clicks at the purchase's ts in
    // the segment AFTER the user's last purge mark
    "sql_enrich_tombstone_fold" ->
      """WITH marks AS (
        |  SELECT user_id, epoch_ns(ts) AS mts, event_id AS mid,
        |    value AS v, FALSE AS del
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, epoch_ns(ts) AS mts, event_id AS mid,
        |    NULL AS v, TRUE AS del
        |  FROM events WHERE event_type = 'error' AND value > 150.0),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT e.event_id, k.v, k.del, k.mts, k.mid
        |  FROM e JOIN marks k ON k.user_id = e.user_id
        |   AND k.mts <= e.ets),
        |seg AS (SELECT *, sum(CASE WHEN del THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY event_id ORDER BY mts, mid) AS s
        |  FROM m),
        |mx AS (SELECT event_id, max(s) AS smax FROM seg GROUP BY 1)
        |SELECT seg.event_id, count(v) AS n, round(sum(v), 2) AS total
        |FROM seg JOIN mx USING (event_id)
        |WHERE seg.s = mx.smax AND NOT seg.del
        |GROUP BY 1 ORDER BY event_id""".stripMargin,
    "sql_app_enrich_tombstone_fold_live" ->
      """WITH marks AS (
        |  SELECT user_id, epoch_ns(ts) AS mts, event_id AS mid,
        |    value AS v, FALSE AS del
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, epoch_ns(ts) AS mts, event_id AS mid,
        |    NULL AS v, TRUE AS del
        |  FROM events WHERE event_type = 'error' AND value > 150.0),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT e.event_id, k.v, k.del, k.mts, k.mid
        |  FROM e JOIN marks k ON k.user_id = e.user_id
        |   AND k.mts <= e.ets),
        |seg AS (SELECT *, sum(CASE WHEN del THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY event_id ORDER BY mts, mid) AS s
        |  FROM m),
        |mx AS (SELECT event_id, max(s) AS smax FROM seg GROUP BY 1)
        |SELECT seg.event_id, count(v) AS n, round(sum(v), 2) AS total
        |FROM seg JOIN mx USING (event_id)
        |WHERE seg.s = mx.smax AND NOT seg.del
        |GROUP BY 1 ORDER BY event_id""".stripMargin,
    // as-of over a swept table: the latest click-or-purge mark at the
    // purchase's timestamp decides — purge marks (tombstones) drop the
    // event, click marks carry their value
    "sql_enrich_tombstone" ->
      """WITH marks AS (
        |  SELECT user_id, epoch_ns(ts) AS mts, event_id AS mid,
        |    value AS v, FALSE AS del
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, epoch_ns(ts) AS mts, event_id AS mid,
        |    NULL AS v, TRUE AS del
        |  FROM events WHERE event_type = 'error' AND value > 150.0),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT e.event_id, e.user_id, k.v, k.del,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY k.mts DESC, k.mid DESC) AS rn
        |  FROM e JOIN marks k ON k.user_id = e.user_id
        |   AND k.mts <= e.ets)
        |SELECT event_id, user_id, round(v, 2) AS lv
        |FROM m WHERE rn = 1 AND NOT del ORDER BY event_id""".stripMargin,
    "sql_app_enrich_tombstone_live" ->
      """WITH marks AS (
        |  SELECT user_id, epoch_ns(ts) AS mts, event_id AS mid,
        |    value AS v, FALSE AS del
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, epoch_ns(ts) AS mts, event_id AS mid,
        |    NULL AS v, TRUE AS del
        |  FROM events WHERE event_type = 'error' AND value > 150.0),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT e.event_id, e.user_id, k.v, k.del,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY k.mts DESC, k.mid DESC) AS rn
        |  FROM e JOIN marks k ON k.user_id = e.user_id
        |   AND k.mts <= e.ets)
        |SELECT event_id, user_id, round(v, 2) AS lv
        |FROM m WHERE rn = 1 AND NOT del ORDER BY event_id""".stripMargin,
    // per-event as-of vs the windowed writer: each purchase reads its
    // user's latest flush whose 10-min bucket CLOSED at or before the
    // purchase timestamp (bucket end = (b+1)·10min)
    "sql_enrich_window_asof" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    count(*) AS cnt, round(sum(value), 2) AS total
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT e.event_id, e.user_id, f.cnt, f.total,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY f.b DESC) AS rn
        |  FROM e JOIN flush f ON f.user_id = e.user_id
        |   AND (f.b + 1) * 600000000000 <= e.ets)
        |SELECT event_id, user_id, cnt AS clicks, total AS click_total
        |FROM m WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // as-of rows grouped per user: n purchases with a closed-bucket
    // match, summing their as-of click totals
    "sql_app_enrich_window_agg_live" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    round(sum(value), 2) AS total
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT e.event_id, e.user_id, f.total,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY f.b DESC) AS rn
        |  FROM e JOIN flush f ON f.user_id = e.user_id
        |   AND (f.b + 1) * 600000000000 <= e.ets)
        |SELECT user_id, count(*) AS n, round(sum(total), 2) AS s
        |FROM m WHERE rn = 1 GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "sql_app_enrich_window_live" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    count(*) AS cnt, round(sum(value), 2) AS total
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, epoch_ns(ts) AS ets
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT e.event_id, e.user_id, f.cnt, f.total,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY f.b DESC) AS rn
        |  FROM e JOIN flush f ON f.user_id = e.user_id
        |   AND (f.b + 1) * 600000000000 <= e.ets)
        |SELECT event_id, user_id, cnt AS clicks, total AS click_total
        |FROM m WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // live ≡ batch: last pair emission per 10-min interval
    "sql_app_rate_join_live" ->
      """WITH p AS (
        |  SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |    a.user_id AS user_id,
        |    greatest(epoch_ns(a.ts), epoch_ns(b.ts)) AS emit
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -600000000000 AND 600000000000)
        |SELECT err_id, buy_id, user_id FROM p
        |QUALIFY row_number() OVER (PARTITION BY emit // 600000000000
        |  ORDER BY emit DESC, err_id DESC, buy_id DESC) = 1
        |ORDER BY err_id, buy_id""".stripMargin,
    // live ≡ batch: every 4th pair emission, first of each chunk
    "sql_app_rate_join_count_live" ->
      """WITH p AS (
        |  SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |    a.user_id AS user_id,
        |    greatest(epoch_ns(a.ts), epoch_ns(b.ts)) AS emit
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -600000000000 AND 600000000000),
        |r AS (SELECT *, row_number() OVER (ORDER BY emit, err_id,
        |  buy_id) AS rn FROM p)
        |SELECT err_id, buy_id, user_id FROM r
        |WHERE (rn - 1) % 4 = 0 ORDER BY err_id, buy_id""".stripMargin,
    // live ≡ batch: last 1-min flush per 10-min rate interval
    "sql_app_rate_window_live" ->
      """WITH flush AS (
        |  SELECT epoch_ms(ts) // 60000 AS b, round(sum(value), 2)
        |    AS total, count(*) AS n
        |  FROM events WHERE event_type = 'view' GROUP BY 1)
        |SELECT (b + 1) * 60000 AS w_end_ms, total, n FROM flush
        |QUALIFY row_number() OVER (PARTITION BY
        |  ((b + 1) * 60000) // 600000 ORDER BY b DESC) = 1
        |ORDER BY w_end_ms""".stripMargin,
    // last 1-min flush per 10-min rate interval (interval of a flush =
    // its end ms // rate period)
    "sql_rate_window" ->
      """WITH flush AS (
        |  SELECT epoch_ms(ts) // 60000 AS b, round(sum(value), 2)
        |    AS total, count(*) AS n
        |  FROM events WHERE event_type = 'view' GROUP BY 1)
        |SELECT (b + 1) * 60000 AS w_end_ms, total, n FROM flush
        |QUALIFY row_number() OVER (PARTITION BY
        |  ((b + 1) * 60000) // 600000 ORDER BY b DESC) = 1
        |ORDER BY w_end_ms""".stripMargin,
    // every 3rd flush row, first of each chunk
    "sql_rate_window_count" ->
      """WITH flush AS (
        |  SELECT epoch_ms(ts) // 60000 AS b, round(sum(value), 2)
        |    AS total, count(*) AS n
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY b) AS rn FROM flush)
        |SELECT (b + 1) * 60000 AS w_end_ms, total, n FROM r
        |WHERE (rn - 1) % 3 = 0 ORDER BY w_end_ms""".stripMargin,
    // matches = first purchase per error within 120 min (the NFA's
    // `every e1 -> e2` rule); emission order = (closing purchase ts,
    // spawning error ts, error id); count mode keeps every 4th
    "sql_rate_named_count" ->
      """WITH flush AS (
        |  SELECT epoch_ms(ts) // 60000 AS b, round(sum(value), 2)
        |    AS total, count(*) AS n
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY b) AS rn FROM flush)
        |SELECT (b + 1) * 60000 AS w_end_ms, total, n FROM r
        |WHERE (rn - 1) % 3 = 0 ORDER BY w_end_ms""".stripMargin,
    "sql_app_rate_named_count_live" ->
      """WITH flush AS (
        |  SELECT epoch_ms(ts) // 60000 AS b, round(sum(value), 2)
        |    AS total, count(*) AS n
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY b) AS rn FROM flush)
        |SELECT (b + 1) * 60000 AS w_end_ms, total, n FROM r
        |WHERE (rn - 1) % 3 = 0 ORDER BY w_end_ms""".stripMargin,
    "sql_rate_pattern" ->
      """WITH m AS (
        |  SELECT e.user_id AS user_id, e.event_id AS start_id,
        |    p.event_id AS next_id, epoch_ns(p.ts) AS emit_ns,
        |    epoch_ns(e.ts) AS sp_ts, e.event_id AS sp_id
        |  FROM events e JOIN events p ON e.user_id = p.user_id
        |    AND e.event_type = 'error' AND p.event_type = 'purchase'
        |    AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 120 MINUTE
        |  QUALIFY row_number() OVER (PARTITION BY e.event_id
        |    ORDER BY p.ts, p.event_id) = 1)
        |SELECT user_id, start_id, next_id FROM m
        |QUALIFY (row_number() OVER (ORDER BY emit_ns, sp_ts, sp_id)
        |  - 1) % 4 = 0
        |ORDER BY start_id, next_id""".stripMargin,
    "sql_app_rate_pattern_live" ->
      """WITH m AS (
        |  SELECT e.user_id AS user_id, e.event_id AS start_id,
        |    p.event_id AS next_id, epoch_ns(p.ts) AS emit_ns,
        |    epoch_ns(e.ts) AS sp_ts, e.event_id AS sp_id
        |  FROM events e JOIN events p ON e.user_id = p.user_id
        |    AND e.event_type = 'error' AND p.event_type = 'purchase'
        |    AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 120 MINUTE
        |  QUALIFY row_number() OVER (PARTITION BY e.event_id
        |    ORDER BY p.ts, p.event_id) = 1)
        |SELECT user_id, start_id, next_id FROM m
        |QUALIFY (row_number() OVER (ORDER BY emit_ns, sp_ts, sp_id)
        |  - 1) % 4 = 0
        |ORDER BY start_id, next_id""".stripMargin,
    // time mode: the LAST match of each 10-min emission interval
    "sql_rate_pattern_time" ->
      """WITH m AS (
        |  SELECT e.user_id AS user_id, e.event_id AS start_id,
        |    p.event_id AS next_id, epoch_ns(p.ts) AS emit_ns,
        |    epoch_ns(e.ts) AS sp_ts, e.event_id AS sp_id
        |  FROM events e JOIN events p ON e.user_id = p.user_id
        |    AND e.event_type = 'error' AND p.event_type = 'purchase'
        |    AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 120 MINUTE
        |  QUALIFY row_number() OVER (PARTITION BY e.event_id
        |    ORDER BY p.ts, p.event_id) = 1)
        |SELECT user_id, start_id, next_id FROM m
        |QUALIFY row_number() OVER (PARTITION BY emit_ns // 600000000000
        |  ORDER BY emit_ns DESC, sp_ts DESC, sp_id DESC) = 1
        |ORDER BY start_id, next_id""".stripMargin,
    "sql_app_rate_pattern_time_live" ->
      """WITH m AS (
        |  SELECT e.user_id AS user_id, e.event_id AS start_id,
        |    p.event_id AS next_id, epoch_ns(p.ts) AS emit_ns,
        |    epoch_ns(e.ts) AS sp_ts, e.event_id AS sp_id
        |  FROM events e JOIN events p ON e.user_id = p.user_id
        |    AND e.event_type = 'error' AND p.event_type = 'purchase'
        |    AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 120 MINUTE
        |  QUALIFY row_number() OVER (PARTITION BY e.event_id
        |    ORDER BY p.ts, p.event_id) = 1)
        |SELECT user_id, start_id, next_id FROM m
        |QUALIFY row_number() OVER (PARTITION BY emit_ns // 600000000000
        |  ORDER BY emit_ns DESC, sp_ts DESC, sp_id DESC) = 1
        |ORDER BY start_id, next_id""".stripMargin,
    "sql_app_rate_count_live" ->
      """WITH f AS (SELECT event_id, user_id, row_number()
        |  OVER (ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events WHERE value > 100.0)
        |SELECT event_id, user_id FROM f
        |WHERE (rn - 1) % 5 = 0 ORDER BY event_id""".stripMargin,
    "sql_app_rate_count_last_live" ->
      """WITH f AS (SELECT event_id, user_id, row_number()
        |  OVER (ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events WHERE value > 100.0)
        |SELECT event_id, user_id FROM f
        |WHERE rn % 5 = 0 OR rn = (SELECT max(rn) FROM f)
        |ORDER BY event_id""".stripMargin,
    "sql_join_mixed_window" ->
      """WITH a AS (SELECT *, row_number() OVER (ORDER BY epoch_ns(ts),
        |    event_id) AS seq FROM events WHERE event_type = 'error'),
        |b AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |bm AS (SELECT b.event_id, (SELECT count(*) FROM a
        |  WHERE (epoch_ns(a.ts), a.event_id)
        |      < (epoch_ns(b.ts), b.event_id)) AS cnta FROM b)
        |SELECT a.event_id AS err_id, b.event_id AS buy_id
        |FROM a JOIN b ON a.user_id = b.user_id
        |JOIN bm ON bm.event_id = b.event_id
        |WHERE (((epoch_ns(b.ts), b.event_id)
        |          < (epoch_ns(a.ts), a.event_id)
        |        AND epoch_ns(a.ts) - epoch_ns(b.ts) <= 600000000000)
        |   OR ((epoch_ns(a.ts), a.event_id)
        |          < (epoch_ns(b.ts), b.event_id)
        |        AND a.seq > bm.cnta - 50))
        |ORDER BY err_id, buy_id""".stripMargin,
    "sql_onerror_fault" ->
      """SELECT event_id, 'divide_by_zero' AS _error FROM events
        |WHERE user_id % 3 = 0 ORDER BY event_id""".stripMargin,
    "sql_app_onerror_live" ->
      """SELECT event_id, 'divide_by_zero' AS _error FROM events
        |WHERE user_id % 3 = 0 ORDER BY event_id""".stripMargin,
    "sql_onerror_clean" ->
      """SELECT event_id, event_id % (user_id % 3) AS r FROM events
        |WHERE user_id % 3 <> 0 ORDER BY event_id""".stripMargin,
    // hourly buckets over the CLEAN complement — every bucket must
    // emit (the sentinel-region invariant keeps the final flush alive
    // through the @OnError split filters)
    "sql_app_onerror_agg_live" ->
      """SELECT epoch_ms(ts) // 3600000 * 3600000 AS w_start_ms,
        |  count(*) AS n, round(sum(value), 2) AS sv
        |FROM events WHERE user_id % 3 <> 0
        |GROUP BY 1 ORDER BY w_start_ms""".stripMargin,
    "sql_app_join_agg1_live" ->
      """WITH pairs AS (
        |  SELECT a.user_id AS user_id, b.value AS v
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -300000000000 AND 300000000000)
        |SELECT user_id, count(*) AS n, round(sum(v), 2) AS total,
        |  round(avg(v), 2) AS avg_v, round(min(v), 2) AS vmin,
        |  round(max(v), 2) AS vmax
        |FROM pairs GROUP BY user_id ORDER BY user_id""".stripMargin,
    // pairs + one null-pad per unmatched error, grouped per user
    "sql_app_join_agg_outer_live" ->
      """WITH p AS (
        |  SELECT a.user_id AS user_id, b.value AS v
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -300000000000 AND 300000000000),
        |u AS (
        |  SELECT a.user_id AS user_id, CAST(NULL AS DOUBLE) AS v
        |  FROM events a
        |  WHERE a.event_type = 'error' AND NOT EXISTS (
        |    SELECT 1 FROM events b WHERE b.event_type = 'purchase'
        |      AND b.user_id = a.user_id
        |      AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |          BETWEEN -300000000000 AND 300000000000)),
        |em AS (SELECT * FROM p UNION ALL SELECT * FROM u)
        |SELECT user_id, count(*) AS n, round(sum(v), 2) AS total
        |FROM em GROUP BY user_id ORDER BY user_id""".stripMargin,
    // band-pair groups surviving HAVING count > 2 (120-min band:
    // 15 groups pass, 75 filtered at sf0.01 — both paths exercised)
    "sql_app_join_agg_having_live" ->
      """WITH pairs AS (
        |  SELECT a.user_id AS user_id, b.value AS v
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -7200000000000 AND 7200000000000)
        |SELECT user_id, count(*) AS n, round(sum(v), 2) AS total
        |FROM pairs GROUP BY user_id HAVING count(*) > 2
        |ORDER BY user_id""".stripMargin,
    // band-pair groups ordered, 2 skipped, 3 kept (7 groups total)
    "sql_app_join_agg_limit_live" ->
      """WITH pairs AS (
        |  SELECT a.user_id AS user_id, b.value AS v
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -300000000000 AND 300000000000)
        |SELECT user_id, count(*) AS n, round(sum(v), 2) AS total
        |FROM pairs GROUP BY user_id
        |ORDER BY user_id LIMIT 3 OFFSET 2""".stripMargin,
    // enrich-then-aggregate groups surviving HAVING buys > 1
    "sql_app_enrich_agg_having_live" ->
      """WITH pc AS (SELECT p.event_id, p.user_id,
        |    sum(c.value) AS tot
        |  FROM events p JOIN events c ON c.user_id = p.user_id
        |    AND p.event_type = 'purchase' AND c.event_type = 'click'
        |    AND (epoch_ns(c.ts), c.event_id) <
        |        (epoch_ns(p.ts), p.event_id)
        |  GROUP BY 1, 2)
        |SELECT user_id, count(*) AS buys, round(sum(tot), 2) AS clicksum
        |FROM pc GROUP BY 1 HAVING count(*) > 1 ORDER BY user_id""".stripMargin,
    // band-pair multiset stddev + distinct purchase ids per user
    "sql_app_join_agg_stats_live" ->
      """WITH pairs AS (
        |  SELECT a.user_id AS user_id, b.value AS v, b.event_id AS bid
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -300000000000 AND 300000000000)
        |SELECT user_id, count(*) AS n, round(stddev_pop(v), 6) AS sd,
        |  count(DISTINCT bid) AS dp
        |FROM pairs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "sql_app_join_outer_live" ->
      """WITH a AS (SELECT * FROM events WHERE event_type = 'error'),
        |b AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |  a.user_id AS user_id
        |FROM a LEFT JOIN b
        |  ON a.user_id = b.user_id
        | AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |     BETWEEN -120000000000 AND 120000000000
        |ORDER BY err_id NULLS FIRST, buy_id NULLS FIRST""".stripMargin,
    "sql_app_join_full_live" ->
      """WITH a AS (SELECT * FROM events WHERE event_type = 'error'),
        |b AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT a.event_id AS err_id, b.event_id AS buy_id
        |FROM a FULL JOIN b
        |  ON a.user_id = b.user_id
        | AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |     BETWEEN -120000000000 AND 120000000000
        |ORDER BY err_id NULLS FIRST, buy_id NULLS FIRST""".stripMargin,
    "sql_app_agg_update_live" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS sv
        |FROM events WHERE value > 50.0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // enrich-then-aggregate: per purchase the as-of click total (folded
    // counter), aggregated per user; inner join drops zero-click buys
    "sql_app_enrich_agg_live" ->
      """WITH pc AS (SELECT p.event_id, p.user_id, p.value,
        |    sum(c.value) AS tot
        |  FROM events p JOIN events c ON c.user_id = p.user_id
        |    AND p.event_type = 'purchase' AND c.event_type = 'click'
        |    AND (epoch_ns(c.ts), c.event_id) <
        |        (epoch_ns(p.ts), p.event_id)
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, count(*) AS buys, round(sum(tot), 2) AS clicksum,
        |  round(max(value), 2) AS maxbuy
        |FROM pc GROUP BY 1 ORDER BY user_id""".stripMargin,
    // folded counter table ≡ per-user click count/sum
    "sql_table_upsert_fold" ->
      """SELECT user_id, count(*) AS cnt, round(sum(value), 2) AS total
        |FROM events WHERE event_type = 'click'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // every 10-min flush row appended, then re-aggregated by the read
    "sql_table_agg_insert" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    count(*) AS cnt, avg(value) AS avg_value
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(cnt) AS BIGINT) AS total_clicks,
        |  round(max(avg_value), 2) AS max_flush_avg
        |FROM flush GROUP BY 1 ORDER BY user_id""".stripMargin,
    // per user the LAST flush's aggregate row wins
    "sql_table_agg_upsert" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    count(*) AS cnt, sum(value) AS total
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT user_id, cnt, round(total, 2) AS total FROM flush
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY b DESC) = 1
        |ORDER BY user_id""".stripMargin,
    // per user the LAST flush's stddev/distinct-count row wins
    "sql_table_agg_stats" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    round(stddev_pop(value), 6) AS sd,
        |    count(DISTINCT event_id) AS dv
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT user_id, sd, dv FROM flush
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY b DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "sql_app_table_stats_live" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    round(stddev_pop(value), 6) AS sd,
        |    count(DISTINCT event_id) AS dv
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT user_id, sd, dv FROM flush
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY b DESC) = 1
        |ORDER BY user_id""".stripMargin,
    // live ≡ batch: accumulator folds across window flushes
    "sql_app_table_agg_live" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    sum(value) AS fsum
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT user_id, count(*) AS flushes, round(sum(fsum), 2) AS total
        |FROM flush GROUP BY 1 ORDER BY user_id""".stripMargin,
    // accumulator folds across flushes: flush count + summed flush sums
    "sql_table_agg_fold" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    sum(value) AS fsum
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT user_id, count(*) AS flushes, round(sum(fsum), 2) AS total
        |FROM flush GROUP BY 1 ORDER BY user_id""".stripMargin,
    // as-of fold value: clicks strictly before the purchase in
    // (ts, event_id) arrival order; inner join drops zero-click buys
    "sql_app_enrich_fold_live" ->
      """SELECT p.event_id, p.user_id, count(*) AS clicks,
        |  round(sum(c.value), 2) AS click_total
        |FROM events p JOIN events c ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND (epoch_ns(c.ts), c.event_id) <
        |      (epoch_ns(p.ts), p.event_id)
        |GROUP BY 1, 2 ORDER BY p.event_id""".stripMargin,
    // as-of state gated by the table filter: the purchase matches only
    // when its user's LATEST prior update (latest FIRST, filter after —
    // an ASOF JOIN + WHERE would let DuckDB pick the latest QUALIFYING
    // update, a different relation) is a click above 100
    "sql_app_enrich_filtered_live" ->
      """WITH u AS (
        |  SELECT event_id AS uid, user_id, epoch_ns(ts) AS uts,
        |    value AS last_value, event_type AS last_type
        |  FROM events WHERE event_type <> 'purchase'),
        |e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS ets, value
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.value, u.last_value,
        |    u.last_type,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY u.uts DESC, u.uid DESC) AS rk
        |  FROM e JOIN u ON e.user_id = u.user_id AND u.uts <= e.ets)
        |SELECT event_id, user_id, last_value AS prev_value, value
        |FROM j WHERE rk = 1 AND last_value > 100.0
        |  AND last_type = 'click'
        |ORDER BY event_id""".stripMargin,
    // per-event as-of: each purchase joins the LATEST earlier update
    // of its user (an event's own update would be visible — disjoint
    // event types here, so <= and < coincide)
    "sql_app_enrich_live" ->
      """WITH u AS (
        |  SELECT user_id, epoch_ns(ts) AS uts, value AS last_value,
        |    event_type AS last_type
        |  FROM events WHERE event_type <> 'purchase'),
        |e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS ets, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, u.last_value AS prev_value,
        |  u.last_type AS prev_type, e.value
        |FROM e ASOF JOIN u
        |  ON e.user_id = u.user_id AND u.uts <= e.ets
        |ORDER BY event_id""".stripMargin,
    "sql_join_unidirectional" ->
      """SELECT a.event_id AS buy_id, b.event_id AS err_id,
        |  a.user_id AS user_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'purchase'
        | AND b.event_type = 'error'
        | AND epoch_ns(a.ts) - epoch_ns(b.ts) BETWEEN 0 AND 300000000000
        |ORDER BY buy_id, err_id""".stripMargin,
    "sql_join_window" ->
      """SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |  a.user_id AS user_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'error'
        | AND b.event_type = 'purchase'
        | AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |     BETWEEN -600000000000 AND 600000000000
        |ORDER BY err_id, buy_id""".stripMargin,
    // last pair emission per 10-min interval: emission instant = the
    // later side's arrival, tie-broken by (left id, right id)
    "sql_rate_join" ->
      """WITH p AS (
        |  SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |    a.user_id AS user_id,
        |    greatest(epoch_ns(a.ts), epoch_ns(b.ts)) AS emit
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -600000000000 AND 600000000000)
        |SELECT err_id, buy_id, user_id FROM p
        |QUALIFY row_number() OVER (PARTITION BY emit // 600000000000
        |  ORDER BY emit DESC, err_id DESC, buy_id DESC) = 1
        |ORDER BY err_id, buy_id""".stripMargin,
    // pairs emit at greatest(ts), unmatched errors emit at their own
    // arrival with buy_id = -1; last per 10-min emission interval
    "sql_rate_join_outer" ->
      """WITH p AS (
        |  SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |    a.user_id AS user_id,
        |    greatest(epoch_ns(a.ts), epoch_ns(b.ts)) AS emit
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -600000000000 AND 600000000000),
        |u AS (
        |  SELECT a.event_id AS err_id, CAST(-1 AS BIGINT) AS buy_id,
        |    a.user_id AS user_id, epoch_ns(a.ts) AS emit
        |  FROM events a
        |  WHERE a.event_type = 'error' AND NOT EXISTS (
        |    SELECT 1 FROM events b WHERE b.event_type = 'purchase'
        |      AND b.user_id = a.user_id
        |      AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |          BETWEEN -600000000000 AND 600000000000)),
        |em AS (SELECT * FROM p UNION ALL SELECT * FROM u)
        |SELECT err_id, buy_id, user_id FROM em
        |QUALIFY row_number() OVER (PARTITION BY emit // 600000000000
        |  ORDER BY emit DESC, err_id DESC, buy_id DESC) = 1
        |ORDER BY err_id, buy_id""".stripMargin,
    // count over outer: total emission order (emit, err_id, buy_id
    // with pads at -1), first of every 7
    "sql_rate_join_outer_count" ->
      """WITH p AS (
        |  SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |    a.user_id AS user_id,
        |    greatest(epoch_ns(a.ts), epoch_ns(b.ts)) AS emit
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -600000000000 AND 600000000000),
        |u AS (
        |  SELECT a.event_id AS err_id, CAST(-1 AS BIGINT) AS buy_id,
        |    a.user_id AS user_id, epoch_ns(a.ts) AS emit
        |  FROM events a
        |  WHERE a.event_type = 'error' AND NOT EXISTS (
        |    SELECT 1 FROM events b WHERE b.event_type = 'purchase'
        |      AND b.user_id = a.user_id
        |      AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |          BETWEEN -600000000000 AND 600000000000)),
        |em AS (SELECT * FROM p UNION ALL SELECT * FROM u)
        |SELECT err_id, buy_id, user_id FROM (
        |  SELECT *, row_number() OVER
        |    (ORDER BY emit, err_id, buy_id) AS rn FROM em) t
        |WHERE (rn - 1) % 7 = 0
        |ORDER BY err_id, buy_id""".stripMargin,
    "sql_app_rate_join_outer_count_live" ->
      """WITH p AS (
        |  SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |    a.user_id AS user_id,
        |    greatest(epoch_ns(a.ts), epoch_ns(b.ts)) AS emit
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -600000000000 AND 600000000000),
        |u AS (
        |  SELECT a.event_id AS err_id, CAST(-1 AS BIGINT) AS buy_id,
        |    a.user_id AS user_id, epoch_ns(a.ts) AS emit
        |  FROM events a
        |  WHERE a.event_type = 'error' AND NOT EXISTS (
        |    SELECT 1 FROM events b WHERE b.event_type = 'purchase'
        |      AND b.user_id = a.user_id
        |      AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |          BETWEEN -600000000000 AND 600000000000)),
        |em AS (SELECT * FROM p UNION ALL SELECT * FROM u)
        |SELECT err_id, buy_id, user_id FROM (
        |  SELECT *, row_number() OVER
        |    (ORDER BY emit, err_id, buy_id) AS rn FROM em) t
        |WHERE (rn - 1) % 7 = 0
        |ORDER BY err_id, buy_id""".stripMargin,
    "sql_app_rate_join_outer_live" ->
      """WITH p AS (
        |  SELECT a.event_id AS err_id, b.event_id AS buy_id,
        |    a.user_id AS user_id,
        |    greatest(epoch_ns(a.ts), epoch_ns(b.ts)) AS emit
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND a.event_type = 'error'
        |   AND b.event_type = 'purchase'
        |   AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |       BETWEEN -600000000000 AND 600000000000),
        |u AS (
        |  SELECT a.event_id AS err_id, CAST(-1 AS BIGINT) AS buy_id,
        |    a.user_id AS user_id, epoch_ns(a.ts) AS emit
        |  FROM events a
        |  WHERE a.event_type = 'error' AND NOT EXISTS (
        |    SELECT 1 FROM events b WHERE b.event_type = 'purchase'
        |      AND b.user_id = a.user_id
        |      AND epoch_ns(a.ts) - epoch_ns(b.ts)
        |          BETWEEN -600000000000 AND 600000000000)),
        |em AS (SELECT * FROM p UNION ALL SELECT * FROM u)
        |SELECT err_id, buy_id, user_id FROM em
        |QUALIFY row_number() OVER (PARTITION BY emit // 600000000000
        |  ORDER BY emit DESC, err_id DESC, buy_id DESC) = 1
        |ORDER BY err_id, buy_id""".stripMargin,
    "sql_geo_units" ->
      """WITH b AS (SELECT event_id,
        |    user_id % 170 - 85.0 AS lat1, event_id % 350 - 175.0 AS lon1,
        |    user_id % 170 - 83.5 AS lat2, event_id % 350 - 173.0 AS lon2,
        |    value
        |  FROM events WHERE event_id < 250)
        |SELECT event_id,
        |  round(2.0 * 6371000.0 * asin(sqrt(
        |    pow(sin(radians(lat2 - lat1) / 2), 2) +
        |    cos(radians(lat1)) * cos(radians(lat2)) *
        |    pow(sin(radians(lon2 - lon1) / 2), 2))), 1) AS dist_m,
        |  round(value * 0.621371192, 6) AS mi,
        |  round(value * 9.0 / 5.0 + 32.0, 6) AS f,
        |  round(value * 2.20462262, 6) AS lb,
        |  round(value * 60.0, 6) AS sec
        |FROM b ORDER BY event_id""".stripMargin,
    "sql_collections" ->
      """SELECT event_id,
        |  list_sort([value, 100.0, 55.5])[1] AS lo,
        |  list_contains([event_type, 'click'], 'click') AS has_click,
        |  CAST(len(list_distinct([1, 2, 2, 3])) AS INT) AS nd,
        |  value AS ma,
        |  FALSE AS has_c,
        |  array_to_string(list_sort(map_keys(map(['x', 'y'], [1, 2]))), ',')
        |    AS ks,
        |  TRUE AS is_d, TRUE AS is_s, TRUE AS is_l, FALSE AS not_d
        |FROM events WHERE event_id < 200
        |ORDER BY event_id""".stripMargin,
    "sql_script_udf" ->
      """SELECT o_orderkey,
        |  CAST(o_totalprice * (1 + CAST(7 / 100.0 AS DOUBLE))
        |    AS DOUBLE) AS taxed_price,
        |  CAST(o_orderstatus || '-' ||
        |    (CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END)
        |    AS VARCHAR) AS tag
        |FROM orders WHERE o_totalprice > 150000.0
        |ORDER BY o_orderkey""".stripMargin,
    // last event per user (replay order), then the on-demand filter
    "sql_store_query" ->
      """SELECT user_id, value AS last_value FROM (
        |  SELECT user_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND value > 150.0
        |ORDER BY user_id""".stripMargin,
    // on-demand update: last value per user, doubled where the
    // mutation's predicate held, then the store read's filter
    "sql_store_update" ->
      """WITH last AS (
        |  SELECT user_id, value FROM (
        |    SELECT user_id, value, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |      AS rn
        |    FROM events) WHERE rn = 1),
        |upd AS (
        |  SELECT user_id, CASE WHEN value > 150.0 THEN value * 2.0
        |    ELSE value END AS last_value FROM last)
        |SELECT user_id, last_value FROM upd WHERE last_value > 250.0
        |ORDER BY user_id""".stripMargin,
    // on-demand delete: last value per user minus the purged rows
    "sql_store_delete" ->
      """SELECT user_id, value AS last_value FROM (
        |  SELECT user_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND NOT (value < 100.0)
        |ORDER BY user_id""".stripMargin,
    "sql_delay_chained" ->
      """SELECT (epoch_ms(ts) + 90000) // 60000 * 60000 AS w_start_ms,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1 ORDER BY w_start_ms""".stripMargin,
    "sql_cron_window" ->
      """SELECT epoch_ms(ts) // 900000 * 900000 AS cron_tick_ms,
        |  count(*) AS n, round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1 ORDER BY cron_tick_ms""".stripMargin,
    // last-10 rows frame per user, pruned to the trailing 2 minutes by a
    // list lambda comparing each buffered ts to the current row's
    "sql_timelength" ->
      """WITH b AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS tn,
        |    list(struct_pack(tn := epoch_ns(ts), v := value)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS buf
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id,
        |    list_filter(buf, s -> s.tn >= tn - 120000000000) AS win
        |  FROM b)
        |SELECT event_id, user_id, CAST(len(win) AS BIGINT) AS occ,
        |  round(list_sum(list_transform(win, s -> s.v)), 2) AS sv,
        |  list_max(list_transform(win, s -> s.v)) AS mx
        |FROM w ORDER BY event_id""".stripMargin,
    // fan-in: union of both writers, then the summary aggregation.
    // An event can satisfy BOTH writers (an 'error' with value > 180)
    // and must then appear twice — UNION ALL, not UNION
    "sql_multi_writer" ->
      """WITH alerts AS (
        |  SELECT user_id, 'spike' AS reason, value FROM events
        |  WHERE value > 180
        |  UNION ALL
        |  SELECT user_id, 'error' AS reason, value FROM events
        |  WHERE event_type = 'error')
        |SELECT user_id, reason, count(*) AS n,
        |  round(sum(value), 2) AS total
        |FROM alerts GROUP BY 1, 2 ORDER BY user_id, reason""".stripMargin,
    "sql_filter_project" ->
      """SELECT event_id, user_id, value * 2 AS v2 FROM events
        |WHERE value > 120 AND event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "sql_timebatch_group" ->
      """SELECT epoch_ms(ts) // 60000 * 60000 AS w_start_ms, user_id,
        |  sum(value) AS total, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_start_ms, user_id""".stripMargin,
    "sql_timebatch_aligned" ->
      """SELECT (epoch_ms(ts) - 180000) // 600000 * 600000 + 180000
        |    AS w_start_ms,
        |  user_id, round(sum(value), 2) AS total, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_start_ms, user_id""".stripMargin,
    "sql_app_timebatch_aligned_live" ->
      """SELECT (epoch_ms(ts) - 180000) // 600000 * 600000 + 180000
        |    AS w_start_ms,
        |  user_id, round(sum(value), 2) AS total, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_start_ms, user_id""".stripMargin,
    "sql_sort_multi" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value FROM events
        |  ORDER BY user_id ASC, value DESC, ts, event_id LIMIT 50)
        |ORDER BY event_id""".stripMargin,
    "sql_unique_ever" ->
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "sql_lengthbatch" ->
      """WITH ranked AS (
        |  SELECT value,
        |    (row_number() OVER (ORDER BY ts, event_id) - 1) // 100
        |      AS chunk_id
        |  FROM events)
        |SELECT chunk_id, max(value) AS mx, count(*) AS n
        |FROM ranked GROUP BY 1 ORDER BY chunk_id""".stripMargin,
    // session semantics mirror window_session's oracle: a session breaks
    // when the gap to the previous event of the key exceeds 2 minutes
    "sql_session_group" ->
      """WITH marked AS (
        |  SELECT user_id, value, epoch_ms(ts) AS ms,
        |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) > 120000
        |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sess AS (
        |  SELECT user_id, value, ms, sum(brk) OVER (
        |    PARTITION BY user_id ORDER BY ms
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT min(ms) AS w_start_ms, max(ms) + 120000 AS w_end_ms,
        |  user_id, count(*) AS n, sum(value) AS total
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, w_start_ms""".stripMargin,
    "sql_length_sliding" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER w, 2) AS s20, count(*) OVER w AS n20
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // the chained app folds to: filter feeds the per-minute aggregation
    "sql_app_chained" ->
      """SELECT epoch_ms(ts) // 60000 * 60000 AS w_start_ms, user_id,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events WHERE value > 100
        |GROUP BY 1, 2 ORDER BY w_start_ms, user_id""".stripMargin,
    "sql_join_group" ->
      """SELECT n.n_name, count(*) AS n_cust,
        |  round(sum(c.c_acctbal), 2) AS bal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name HAVING count(*) > 2
        |ORDER BY n_name""".stripMargin,
    // absence: an error with NO purchase by the same user in the
    // following 5 minutes (inclusive deadline, NFA semantics)
    "sql_pattern_absence" ->
      """SELECT e.user_id, e.event_id
        |FROM events e WHERE e.event_type = 'error' AND NOT EXISTS (
        |  SELECT 1 FROM events p WHERE p.event_type = 'purchase'
        |    AND p.user_id = e.user_id AND p.ts > e.ts
        |    AND p.ts <= e.ts + INTERVAL 5 MINUTE)
        |ORDER BY e.event_id""".stripMargin,
    // customers enriched with their day-grain event totals (Jan 2)
    "sql_join_aggregation" ->
      """WITH agg AS (
        |  SELECT user_id, round(sum(value), 2) AS total,
        |    count(*) AS cnt
        |  FROM events
        |  WHERE epoch_ms(ts) >= 1704153600000
        |    AND epoch_ms(ts) < 1704240000000
        |  GROUP BY 1)
        |SELECT c.c_custkey, a.total, a.cnt
        |FROM customer c JOIN agg a ON c.c_custkey = a.user_id
        |ORDER BY c_custkey""".stripMargin,
    // function-family parity, 0-based substr shifted to SQL's 1-based
    "sql_functions" ->
      """SELECT event_id,
        |  substring(event_type, 1, 3) AS t3,
        |  reverse(event_type) AS rev,
        |  repeat(upper(event_type), 2) AS up2,
        |  (lower(event_type) = lower('CLICK')) AS is_click,
        |  least(value, 100.0) AS vmin,
        |  greatest(value, 100.0) AS vmax,
        |  hour(ts) AS hr,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS pk,
        |  regexp_extract(event_type, '([a-z]+)', 1) AS g1,
        |  regexp_matches(event_type, 'err') AS has_err,
        |  regexp_matches(event_type, '^(?:e.*r)$') AS full_match
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin,
    // exact top-5 values by (value desc, arrival) — aggregated
    "sql_sort_window" ->
      """SELECT round(sum(value), 2) AS sv, count(*) AS n,
        |  round(min(value), 2) AS vmin
        |FROM (SELECT value FROM events
        |  ORDER BY value DESC, ts, event_id LIMIT 5) t""".stripMargin,
    // errors whose immediately-next event (per user) is a purchase
    "sql_pattern_strict" ->
      """WITH seq AS (SELECT user_id, event_id, event_type,
        |    lead(event_type) OVER w AS nxt_type,
        |    lead(event_id) OVER w AS nxt_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS first_id, nxt_id AS second_id
        |FROM seq WHERE event_type = 'error' AND nxt_type = 'purchase'
        |ORDER BY first_id""".stripMargin,
    // each error takes its FIRST later purchase-or-signup within 5 min
    "sql_pattern_logical" ->
      """WITH err AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'error'),
        |nxt AS (SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE event_type IN ('purchase', 'signup'))
        |SELECT user_id, start_id, next_id, next_type FROM (
        |  SELECT e.user_id, e.event_id AS start_id, n.event_id AS next_id,
        |    n.event_type AS next_type,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY n.ts, n.event_id) AS rk
        |  FROM err e JOIN nxt n ON e.user_id = n.user_id
        |    AND n.ts > e.ts AND n.ts <= e.ts + INTERVAL 5 MINUTE) t
        |WHERE rk = 1 ORDER BY start_id""".stripMargin,
    // per-minute buckets of the fed (value > 100) window
    "sql_named_window" ->
      """SELECT epoch_ms(ts) // 60000 * 60000 AS w_start_ms,
        |  count(*) AS n, round(sum(value), 2) AS sv
        |FROM events WHERE value > 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sql_app_window_live" ->
      """SELECT epoch_ms(ts) // 60000 * 60000 AS w_start_ms,
        |  count(*) AS n, round(sum(value), 2) AS sv
        |FROM events WHERE value > 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the deployed topology must equal the batch truth
    "sql_app_streaming" ->
      """SELECT epoch_ms(ts) // 60000 * 60000 AS w_start_ms, user_id,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events WHERE value > 120
        |GROUP BY 1, 2 ORDER BY w_start_ms, user_id""".stripMargin,
    // same truth as sql_pattern_seq: greedy first later purchase with a
    // larger value within 5 min (singleton bindings ⇒ [0] ≡ head,
    // [last] ≡ head)
    "sql_pattern_indexed" ->
      """SELECT user_id, start_id, next_id, next_value FROM (
        |  SELECT e.user_id, e.event_id AS start_id, p.event_id AS next_id,
        |    p.value AS next_value,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY p.ts, p.event_id) AS rk
        |  FROM events e JOIN events p ON e.user_id = p.user_id
        |    AND e.event_type = 'error' AND p.event_type = 'purchase'
        |    AND p.value > e.value
        |    AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 5 MINUTE) t
        |WHERE rk = 1 ORDER BY start_id, next_id""".stripMargin,
    // ticks over the event span; buckets of per-user last events
    "sql_trigger_unique" ->
      """WITH lastev AS (
        |  SELECT * FROM (SELECT ts, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) e WHERE rn = 1),
        |bounds AS (SELECT min(epoch_ms(ts) // 600000) AS lo,
        |    max(epoch_ms(ts) // 600000) AS hi FROM events),
        |ticks AS (SELECT unnest(range(lo, hi + 1)) * 600000 AS tick_ms
        |  FROM bounds),
        |b AS (SELECT epoch_ms(ts) // 600000 * 600000 AS w, count(*) AS n
        |  FROM lastev GROUP BY 1)
        |SELECT t.tick_ms, coalesce(b.n, 0) AS n
        |FROM ticks t LEFT JOIN b ON b.w = t.tick_ms
        |ORDER BY t.tick_ms""".stripMargin,
    // exact top-3 types by frequency (ties broken by type name)
    "sql_frequent_window" ->
      """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |top3 AS (SELECT event_type FROM (
        |  SELECT event_type, row_number() OVER (ORDER BY n DESC,
        |    event_type) AS rk FROM c) r WHERE rk <= 3)
        |SELECT event_type, count(*) AS n FROM events
        |WHERE event_type IN (SELECT event_type FROM top3)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-user chunks of 10 in (ts, event_id) order
    "sql_partition" ->
      """WITH seq AS (
        |  SELECT user_id, value,
        |    (row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - 1) // 10 AS chunk_id
        |  FROM events)
        |SELECT chunk_id, user_id, round(sum(value), 2) AS sv,
        |  count(*) AS n
        |FROM seq GROUP BY 1, 2 ORDER BY user_id, chunk_id""".stripMargin,
    // first matching band wins
    "sql_partition_range" ->
      """SELECT CASE WHEN value < 50 THEN 'low'
        |    WHEN value < 150 THEN 'mid'
        |    WHEN value >= 150 THEN 'high' END AS partition_key,
        |  count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY 1 ORDER BY partition_key""".stripMargin,
    // hour buckets inside [Jan 2, Jan 5), per user
    // hour buckets of population stddev + exact distinct type counts —
    // independent recompute from raw rows (the cascade's moment/set
    // partials must reproduce the direct aggregation)
    // exact hourly p50 (value-checked) + TRUE tolerance booleans — the
    // Spark side computes the approx-vs-exact check itself
    "sql_incremental_pctl" ->
      """SELECT epoch_ms(ts) // 3600000 * 3600000 AS bucket_start_ms,
        |  user_id, count(*) AS cnt,
        |  round(quantile_cont(value, 0.5), 4) AS exact_p50,
        |  TRUE AS p50_ok
        |FROM events
        |WHERE epoch_ms(ts) >= 1704153600000 AND epoch_ms(ts) < 1704412800000
        |GROUP BY 1, 2 ORDER BY bucket_start_ms, user_id""".stripMargin,
    "sql_app_incremental_pctl_live" ->
      """SELECT epoch_ms(ts) // 3600000 * 3600000 AS bucket_start_ms,
        |  user_id, count(*) AS cnt,
        |  round(quantile_cont(value, 0.5), 4) AS exact_p50,
        |  TRUE AS p50_ok
        |FROM events
        |WHERE epoch_ms(ts) >= 1704153600000 AND epoch_ms(ts) < 1704412800000
        |GROUP BY 1, 2 ORDER BY bucket_start_ms, user_id""".stripMargin,
    "sql_incremental_stats" ->
      """SELECT epoch_ms(ts) // 3600000 * 3600000 AS bucket_start_ms,
        |  user_id, round(stddev_pop(value), 6) AS sd,
        |  count(DISTINCT event_type) AS dt, count(*) AS cnt
        |FROM events
        |WHERE epoch_ms(ts) >= 1704153600000 AND epoch_ms(ts) < 1704412800000
        |GROUP BY 1, 2 ORDER BY bucket_start_ms, user_id""".stripMargin,
    "sql_app_incremental_stats_live" ->
      """SELECT epoch_ms(ts) // 3600000 * 3600000 AS bucket_start_ms,
        |  user_id, round(stddev_pop(value), 6) AS sd,
        |  count(DISTINCT event_type) AS dt, count(*) AS cnt
        |FROM events
        |WHERE epoch_ms(ts) >= 1704153600000 AND epoch_ms(ts) < 1704412800000
        |GROUP BY 1, 2 ORDER BY bucket_start_ms, user_id""".stripMargin,
    "sql_incremental_agg" ->
      """SELECT epoch_ms(ts) // 3600000 * 3600000 AS bucket_start_ms,
        |  user_id, round(sum(value), 2) AS total, count(*) AS cnt,
        |  max(value) AS mx
        |FROM events
        |WHERE epoch_ms(ts) >= 1704153600000 AND epoch_ms(ts) < 1704412800000
        |GROUP BY 1, 2 ORDER BY bucket_start_ms, user_id""".stripMargin,
    // day buckets inside [Jan 2, Jan 8), purchases only
    "sql_incremental_agg_days" ->
      """SELECT epoch_ms(ts) // 86400000 * 86400000 AS bucket_start_ms,
        |  round(sum(value), 2) AS total, count(*) AS cnt
        |FROM events WHERE event_type = 'purchase'
        |  AND epoch_ms(ts) >= 1704153600000 AND epoch_ms(ts) < 1704672000000
        |GROUP BY 1 ORDER BY bucket_start_ms""".stripMargin,
    // per-minute last click
    "sql_rate_limit" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (PARTITION BY epoch_ms(ts) // 60000
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type = 'click') t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // latest value per 10-min interval end, gap-filled forward
    "sql_rate_snapshot" ->
      """WITH ranked AS (
        |  SELECT value, epoch_ms(ts) // 600000 AS iv,
        |    row_number() OVER (PARTITION BY epoch_ms(ts) // 600000
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |lastv AS (SELECT iv, value FROM ranked WHERE rn = 1),
        |bounds AS (SELECT min(iv) AS lo, max(iv) AS hi FROM lastv),
        |ticks AS (SELECT unnest(range(lo, hi + 1)) AS iv FROM bounds)
        |SELECT (t.iv + 1) * 600000 AS w_end_ms,
        |  last_value(l.value IGNORE NULLS) OVER (ORDER BY t.iv
        |    ROWS UNBOUNDED PRECEDING) AS v
        |FROM ticks t LEFT JOIN lastv l ON l.iv = t.iv
        |ORDER BY w_end_ms""".stripMargin,
    // live unique:last ≡ last event per user
    "sql_app_uniquelast_live" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // live sort ≡ exact top-5 values by (value desc, arrival)
    "sql_app_sort_live" ->
      """SELECT round(sum(value), 2) AS sv, count(*) AS n,
        |  round(min(value), 2) AS vmin
        |FROM (SELECT value FROM events
        |  ORDER BY value DESC, ts, event_id LIMIT 5) t""".stripMargin,
    // live frequent ≡ exact top-3 types by frequency, re-counted
    "sql_app_frequent_live" ->
      """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |top3 AS (SELECT event_type FROM (
        |  SELECT event_type, row_number() OVER (ORDER BY n DESC,
        |    event_type) AS rk FROM c) r WHERE rk <= 3)
        |SELECT event_type, count(*) AS n FROM events
        |WHERE event_type IN (SELECT event_type FROM top3)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // live keyed partition ≡ per-user minute buckets over all events
    "sql_app_partition_live" ->
      """SELECT epoch_ms(ts) // 60000 * 60000 AS w_start_ms, user_id,
        |  count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY w_start_ms, user_id"""
        .stripMargin,
    // live range partition ≡ the batch range-partition truth
    "sql_app_partition_range_live" ->
      """SELECT CASE WHEN value < 50 THEN 'low'
        |    WHEN value < 150 THEN 'mid'
        |    WHEN value >= 150 THEN 'high' END AS partition_key,
        |  count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY 1 ORDER BY partition_key""".stripMargin,
    // live upsert ≡ batch upsert ≡ last-event-per-key
    "sql_app_table_live" ->
      """SELECT user_id, value AS last_value, event_type AS last_type
        |FROM (SELECT user_id, value, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE value > 50.0) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // upsert replay collapses to last-event-per-key
    "sql_table_upsert" ->
      """SELECT user_id, value AS last_value, event_type AS last_type
        |FROM (SELECT user_id, value, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE value > 50.0) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // seed = last signup per user; bump updates only seeded users
    "sql_table_update" ->
      """WITH seed AS (
        |  SELECT user_id, value AS base FROM (
        |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'signup') s WHERE rn = 1),
        |bump AS (
        |  SELECT user_id, value AS pv FROM (
        |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') p WHERE rn = 1)
        |SELECT s.user_id, round(s.base, 2) AS base,
        |  round(coalesce(b.pv * 2.0, 0.0), 2) AS bonus
        |FROM seed s LEFT JOIN bump b ON s.user_id = b.user_id
        |ORDER BY s.user_id""".stripMargin,
    // delete removes every key a purge event named
    // live mixed upsert+delete fold == the batch interleaved replay
    "sql_app_table_mixed_writers_live" ->
      """SELECT user_id, round(last_value, 2) AS last_value FROM (
        |  SELECT user_id, value AS last_value, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) e
        |WHERE rn = 1 AND NOT (event_type = 'error' AND value > 150.0)
        |ORDER BY user_id""".stripMargin,
    // event-log join: a purchase matches every click row for its user
    // with no error-tombstone strictly between them (the segment
    // construction's truth, stated relationally); same truth for the
    // live twin
    "sql_enrich_log" ->
      """SELECT e.event_id AS event_id, a.event_id AS item,
        |  round(a.value, 2) AS v
        |FROM events e JOIN events a
        |  ON e.event_type = 'purchase' AND a.event_type = 'click'
        | AND a.user_id = e.user_id
        | AND (a.ts < e.ts OR (a.ts = e.ts AND a.event_id < e.event_id))
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events d
        |  WHERE d.event_type = 'error' AND d.value > 150.0
        |    AND d.user_id = e.user_id
        |    AND (d.ts > a.ts OR (d.ts = a.ts AND d.event_id > a.event_id))
        |    AND (d.ts < e.ts OR (d.ts = e.ts AND d.event_id < e.event_id)))
        |ORDER BY event_id, item""".stripMargin,
    "sql_app_enrich_log_live" ->
      """SELECT e.event_id AS event_id, a.event_id AS item,
        |  round(a.value, 2) AS v
        |FROM events e JOIN events a
        |  ON e.event_type = 'purchase' AND a.event_type = 'click'
        | AND a.user_id = e.user_id
        | AND (a.ts < e.ts OR (a.ts = e.ts AND a.event_id < e.event_id))
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events d
        |  WHERE d.event_type = 'error' AND d.value > 150.0
        |    AND d.user_id = e.user_id
        |    AND (d.ts > a.ts OR (d.ts = a.ts AND d.event_id > a.event_id))
        |    AND (d.ts < e.ts OR (d.ts = e.ts AND d.event_id < e.event_id)))
        |ORDER BY event_id, item""".stripMargin,
    // the log join aggregated per user (same liveness relation)
    "sql_app_enrich_log_agg_live" ->
      """SELECT user_id, count(*) AS n, round(sum(v), 2) AS sv FROM (
        |  SELECT e.user_id AS user_id, a.value AS v
        |  FROM events e JOIN events a
        |    ON e.event_type = 'purchase' AND a.event_type = 'click'
        |   AND a.user_id = e.user_id
        |   AND (a.ts < e.ts OR (a.ts = e.ts AND a.event_id < e.event_id))
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM events d
        |    WHERE d.event_type = 'error' AND d.value > 150.0
        |      AND d.user_id = e.user_id
        |      AND (d.ts > a.ts OR (d.ts = a.ts AND d.event_id > a.event_id))
        |      AND (d.ts < e.ts OR (d.ts = e.ts AND d.event_id < e.event_id))))
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // insert-only log: every prior high-value click, no liveness
    // sandwich (nothing sweeps)
    "sql_enrich_log_insonly" ->
      """SELECT e.event_id AS event_id, a.event_id AS item,
        |  round(a.value, 2) AS v
        |FROM events e JOIN events a
        |  ON e.event_type = 'purchase' AND a.event_type = 'click'
        | AND a.value > 170.0 AND a.user_id = e.user_id
        | AND (a.ts < e.ts OR (a.ts = e.ts AND a.event_id < e.event_id))
        |ORDER BY event_id, item""".stripMargin,
    "sql_app_enrich_log_insonly_live" ->
      """SELECT e.event_id AS event_id, a.event_id AS item,
        |  round(a.value, 2) AS v
        |FROM events e JOIN events a
        |  ON e.event_type = 'purchase' AND a.event_type = 'click'
        | AND a.value > 170.0 AND a.user_id = e.user_id
        | AND (a.ts < e.ts OR (a.ts = e.ts AND a.event_id < e.event_id))
        |ORDER BY event_id, item""".stripMargin,
    // event-log + implicit-set upsert read: origins = live clicks
    // plus a live upsert that is the first live emission of its
    // (user, segment); each (purchase, origin) pair takes the LAST
    // upsert strictly between them (same segment by construction),
    // else the origin's own values
    "sql_table_insert_fold" ->
      """WITH live_ins AS (
        |  SELECT i.user_id, i.value AS v, i.ts, i.event_id
        |  FROM events i
        |  WHERE i.event_type = 'click' AND i.value > 120.0
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = i.user_id
        |        AND (d.ts > i.ts OR
        |             (d.ts = i.ts AND d.event_id > i.event_id)))),
        |live_ups AS (
        |  SELECT u.user_id, u.value AS v, u.ts, u.event_id
        |  FROM events u
        |  WHERE u.event_type = 'purchase'
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = u.user_id
        |        AND (d.ts > u.ts OR
        |             (d.ts = u.ts AND d.event_id > u.event_id)))),
        |org AS (
        |  SELECT * FROM live_ins
        |  UNION ALL
        |  SELECT u.* FROM live_ups u
        |  WHERE NOT EXISTS (SELECT 1 FROM live_ins i
        |      WHERE i.user_id = u.user_id
        |        AND (i.ts < u.ts OR
        |             (i.ts = u.ts AND i.event_id < u.event_id)))
        |    AND NOT EXISTS (SELECT 1 FROM live_ups u2
        |      WHERE u2.user_id = u.user_id
        |        AND (u2.ts < u.ts OR
        |             (u2.ts = u.ts AND u2.event_id < u.event_id))))
        |SELECT o.user_id AS user_id,
        |  round(o.v + coalesce((SELECT sum(u.v) FROM live_ups u
        |    WHERE u.user_id = o.user_id
        |      AND (u.ts > o.ts OR
        |           (u.ts = o.ts AND u.event_id > o.event_id))), 0), 2)
        |    AS v
        |FROM org o
        |ORDER BY user_id, v""".stripMargin,
    "sql_app_table_insert_fold_live" ->
      """WITH live_ins AS (
        |  SELECT i.user_id, CAST(1 AS BIGINT) AS cnt, i.ts, i.event_id
        |  FROM events i
        |  WHERE i.event_type = 'click' AND i.value > 120.0
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = i.user_id
        |        AND (d.ts > i.ts OR
        |             (d.ts = i.ts AND d.event_id > i.event_id)))),
        |live_ups AS (
        |  SELECT u.user_id, CAST(1 AS BIGINT) AS cnt, u.ts, u.event_id
        |  FROM events u
        |  WHERE u.event_type = 'purchase'
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = u.user_id
        |        AND (d.ts > u.ts OR
        |             (d.ts = u.ts AND d.event_id > u.event_id)))),
        |org AS (
        |  SELECT * FROM live_ins
        |  UNION ALL
        |  SELECT u.* FROM live_ups u
        |  WHERE NOT EXISTS (SELECT 1 FROM live_ins i
        |      WHERE i.user_id = u.user_id
        |        AND (i.ts < u.ts OR
        |             (i.ts = u.ts AND i.event_id < u.event_id)))
        |    AND NOT EXISTS (SELECT 1 FROM live_ups u2
        |      WHERE u2.user_id = u.user_id
        |        AND (u2.ts < u.ts OR
        |             (u2.ts = u.ts AND u2.event_id < u.event_id))))
        |SELECT o.user_id AS user_id,
        |  o.cnt + coalesce((SELECT count(*) FROM live_ups u
        |    WHERE u.user_id = o.user_id
        |      AND (u.ts > o.ts OR
        |           (u.ts = o.ts AND u.event_id > o.event_id))), 0)
        |    AS cnt
        |FROM org o
        |ORDER BY user_id, cnt""".stripMargin,
    "sql_table_read_filtered" ->
      """WITH live_ins AS (
        |  SELECT i.user_id, i.value AS v, i.ts, i.event_id
        |  FROM events i
        |  WHERE i.event_type = 'click' AND i.value > 120.0
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = i.user_id
        |        AND (d.ts > i.ts OR
        |             (d.ts = i.ts AND d.event_id > i.event_id)))),
        |live_ups AS (
        |  SELECT u.user_id, u.value AS v, u.ts, u.event_id
        |  FROM events u
        |  WHERE u.event_type = 'purchase'
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = u.user_id
        |        AND (d.ts > u.ts OR
        |             (d.ts = u.ts AND d.event_id > u.event_id)))),
        |org AS (
        |  SELECT * FROM live_ins
        |  UNION ALL
        |  SELECT u.* FROM live_ups u
        |  WHERE NOT EXISTS (SELECT 1 FROM live_ins i
        |      WHERE i.user_id = u.user_id
        |        AND (i.ts < u.ts OR
        |             (i.ts = u.ts AND i.event_id < u.event_id)))
        |    AND NOT EXISTS (SELECT 1 FROM live_ups u2
        |      WHERE u2.user_id = u.user_id
        |        AND (u2.ts < u.ts OR
        |             (u2.ts = u.ts AND u2.event_id < u.event_id)))),
        |fin AS (
        |  SELECT o.user_id AS user_id,
        |    o.v + coalesce((SELECT sum(u.v) FROM live_ups u
        |      WHERE u.user_id = o.user_id
        |        AND (u.ts > o.ts OR
        |             (u.ts = o.ts AND u.event_id > o.event_id))), 0)
        |      AS v
        |  FROM org o)
        |SELECT user_id, round(v, 2) AS v FROM fin
        |WHERE v > 100.0
        |ORDER BY user_id, v""".stripMargin,
    "sql_app_table_read_live" ->
      """WITH live_ins AS (
        |  SELECT i.user_id, i.value AS v, i.ts, i.event_id
        |  FROM events i
        |  WHERE i.event_type = 'click' AND i.value > 120.0
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = i.user_id
        |        AND (d.ts > i.ts OR
        |             (d.ts = i.ts AND d.event_id > i.event_id)))),
        |live_ups AS (
        |  SELECT u.user_id, u.value AS v, u.ts, u.event_id
        |  FROM events u
        |  WHERE u.event_type = 'purchase'
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = u.user_id
        |        AND (d.ts > u.ts OR
        |             (d.ts = u.ts AND d.event_id > u.event_id)))),
        |org AS (
        |  SELECT * FROM live_ins
        |  UNION ALL
        |  SELECT u.* FROM live_ups u
        |  WHERE NOT EXISTS (SELECT 1 FROM live_ins i
        |      WHERE i.user_id = u.user_id
        |        AND (i.ts < u.ts OR
        |             (i.ts = u.ts AND i.event_id < u.event_id)))
        |    AND NOT EXISTS (SELECT 1 FROM live_ups u2
        |      WHERE u2.user_id = u.user_id
        |        AND (u2.ts < u.ts OR
        |             (u2.ts = u.ts AND u2.event_id < u.event_id)))),
        |fin AS (
        |  SELECT o.user_id AS user_id,
        |    o.v + coalesce((SELECT sum(u.v) FROM live_ups u
        |      WHERE u.user_id = o.user_id
        |        AND (u.ts > o.ts OR
        |             (u.ts = o.ts AND u.event_id > o.event_id))), 0)
        |      AS v
        |  FROM org o)
        |SELECT user_id, round(v, 2) AS v FROM fin
        |WHERE v > 100.0
        |ORDER BY user_id, v""".stripMargin,
    "sql_enrich_log_fold" ->
      """WITH ups AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view' AND value > 150.0),
        |ins AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'),
        |org AS (
        |  SELECT * FROM ins
        |  UNION ALL
        |  SELECT u.* FROM ups u
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT * FROM ins
        |                   UNION ALL SELECT * FROM ups) m
        |    WHERE m.user_id = u.user_id
        |      AND (m.ts < u.ts OR
        |           (m.ts = u.ts AND m.event_id < u.event_id))
        |      AND NOT EXISTS (SELECT 1 FROM events d
        |        WHERE d.event_type = 'error' AND d.value > 150.0
        |          AND d.user_id = u.user_id
        |          AND (d.ts > m.ts OR
        |               (d.ts = m.ts AND d.event_id > m.event_id))
        |          AND (d.ts < u.ts OR
        |               (d.ts = u.ts AND d.event_id < u.event_id)))))
        |SELECT e.event_id AS event_id, o.event_id AS item,
        |  round(o.value + coalesce(lu.s, 0), 2) AS v
        |FROM events e
        |JOIN org o ON e.event_type = 'purchase'
        |  AND o.user_id = e.user_id
        |  AND (o.ts < e.ts OR (o.ts = e.ts AND o.event_id < e.event_id))
        |  AND NOT EXISTS (SELECT 1 FROM events d
        |    WHERE d.event_type = 'error' AND d.value > 150.0
        |      AND d.user_id = e.user_id
        |      AND (d.ts > o.ts OR
        |           (d.ts = o.ts AND d.event_id > o.event_id))
        |      AND (d.ts < e.ts OR
        |           (d.ts = e.ts AND d.event_id < e.event_id)))
        |LEFT JOIN LATERAL (
        |  SELECT sum(u.value) AS s FROM ups u
        |  WHERE u.user_id = e.user_id
        |    AND (u.ts > o.ts OR (u.ts = o.ts AND u.event_id > o.event_id))
        |    AND (u.ts < e.ts OR (u.ts = e.ts AND u.event_id < e.event_id))
        |  ) lu ON TRUE
        |ORDER BY event_id, item, v""".stripMargin,
    "sql_app_enrich_log_fold_live" ->
      """WITH ups AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view' AND value > 150.0),
        |ins AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'),
        |org AS (
        |  SELECT * FROM ins
        |  UNION ALL
        |  SELECT u.* FROM ups u
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT * FROM ins
        |                   UNION ALL SELECT * FROM ups) m
        |    WHERE m.user_id = u.user_id
        |      AND (m.ts < u.ts OR
        |           (m.ts = u.ts AND m.event_id < u.event_id))
        |      AND NOT EXISTS (SELECT 1 FROM events d
        |        WHERE d.event_type = 'error' AND d.value > 150.0
        |          AND d.user_id = u.user_id
        |          AND (d.ts > m.ts OR
        |               (d.ts = m.ts AND d.event_id > m.event_id))
        |          AND (d.ts < u.ts OR
        |               (d.ts = u.ts AND d.event_id < u.event_id)))))
        |SELECT e.event_id AS event_id, o.event_id AS item,
        |  round(o.value + coalesce(lu.s, 0), 2) AS v
        |FROM events e
        |JOIN org o ON e.event_type = 'purchase'
        |  AND o.user_id = e.user_id
        |  AND (o.ts < e.ts OR (o.ts = e.ts AND o.event_id < e.event_id))
        |  AND NOT EXISTS (SELECT 1 FROM events d
        |    WHERE d.event_type = 'error' AND d.value > 150.0
        |      AND d.user_id = e.user_id
        |      AND (d.ts > o.ts OR
        |           (d.ts = o.ts AND d.event_id > o.event_id))
        |      AND (d.ts < e.ts OR
        |           (d.ts = e.ts AND d.event_id < e.event_id)))
        |LEFT JOIN LATERAL (
        |  SELECT sum(u.value) AS s FROM ups u
        |  WHERE u.user_id = e.user_id
        |    AND (u.ts > o.ts OR (u.ts = o.ts AND u.event_id > o.event_id))
        |    AND (u.ts < e.ts OR (u.ts = e.ts AND u.event_id < e.event_id))
        |  ) lu ON TRUE
        |ORDER BY event_id, item, v""".stripMargin,
    "sql_enrich_log_ups_filtered" ->
      """WITH ups AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view' AND value > 150.0),
        |ins AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'),
        |org AS (
        |  SELECT * FROM ins
        |  UNION ALL
        |  SELECT u.* FROM ups u
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT * FROM ins
        |                   UNION ALL SELECT * FROM ups) m
        |    WHERE m.user_id = u.user_id
        |      AND (m.ts < u.ts OR
        |           (m.ts = u.ts AND m.event_id < u.event_id))
        |      AND NOT EXISTS (SELECT 1 FROM events d
        |        WHERE d.event_type = 'error' AND d.value > 150.0
        |          AND d.user_id = u.user_id
        |          AND (d.ts > m.ts OR
        |               (d.ts = m.ts AND d.event_id > m.event_id))
        |          AND (d.ts < u.ts OR
        |               (d.ts = u.ts AND d.event_id < u.event_id)))))
        |SELECT e.event_id AS event_id,
        |  coalesce(lu.event_id, o.event_id) AS item,
        |  round(coalesce(lu.value, o.value), 2) AS v
        |FROM events e
        |JOIN org o ON e.event_type = 'purchase'
        |  AND o.user_id = e.user_id
        |  AND (o.ts < e.ts OR (o.ts = e.ts AND o.event_id < e.event_id))
        |  AND NOT EXISTS (SELECT 1 FROM events d
        |    WHERE d.event_type = 'error' AND d.value > 150.0
        |      AND d.user_id = e.user_id
        |      AND (d.ts > o.ts OR
        |           (d.ts = o.ts AND d.event_id > o.event_id))
        |      AND (d.ts < e.ts OR
        |           (d.ts = e.ts AND d.event_id < e.event_id)))
        |LEFT JOIN LATERAL (
        |  SELECT u.event_id, u.value FROM ups u
        |  WHERE u.user_id = e.user_id
        |    AND (u.ts > o.ts OR (u.ts = o.ts AND u.event_id > o.event_id))
        |    AND (u.ts < e.ts OR (u.ts = e.ts AND u.event_id < e.event_id))
        |  ORDER BY u.ts DESC, u.event_id DESC LIMIT 1) lu ON TRUE
        |WHERE coalesce(lu.value, o.value) > 100.0
        |ORDER BY event_id, item, v""".stripMargin,
    "sql_app_enrich_log_ups_filtered_live" ->
      """WITH ups AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view' AND value > 150.0),
        |ins AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'),
        |org AS (
        |  SELECT * FROM ins
        |  UNION ALL
        |  SELECT u.* FROM ups u
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT * FROM ins
        |                   UNION ALL SELECT * FROM ups) m
        |    WHERE m.user_id = u.user_id
        |      AND (m.ts < u.ts OR
        |           (m.ts = u.ts AND m.event_id < u.event_id))
        |      AND NOT EXISTS (SELECT 1 FROM events d
        |        WHERE d.event_type = 'error' AND d.value > 150.0
        |          AND d.user_id = u.user_id
        |          AND (d.ts > m.ts OR
        |               (d.ts = m.ts AND d.event_id > m.event_id))
        |          AND (d.ts < u.ts OR
        |               (d.ts = u.ts AND d.event_id < u.event_id)))))
        |SELECT e.event_id AS event_id,
        |  coalesce(lu.event_id, o.event_id) AS item,
        |  round(coalesce(lu.value, o.value), 2) AS v
        |FROM events e
        |JOIN org o ON e.event_type = 'purchase'
        |  AND o.user_id = e.user_id
        |  AND (o.ts < e.ts OR (o.ts = e.ts AND o.event_id < e.event_id))
        |  AND NOT EXISTS (SELECT 1 FROM events d
        |    WHERE d.event_type = 'error' AND d.value > 150.0
        |      AND d.user_id = e.user_id
        |      AND (d.ts > o.ts OR
        |           (d.ts = o.ts AND d.event_id > o.event_id))
        |      AND (d.ts < e.ts OR
        |           (d.ts = e.ts AND d.event_id < e.event_id)))
        |LEFT JOIN LATERAL (
        |  SELECT u.event_id, u.value FROM ups u
        |  WHERE u.user_id = e.user_id
        |    AND (u.ts > o.ts OR (u.ts = o.ts AND u.event_id > o.event_id))
        |    AND (u.ts < e.ts OR (u.ts = e.ts AND u.event_id < e.event_id))
        |  ORDER BY u.ts DESC, u.event_id DESC LIMIT 1) lu ON TRUE
        |WHERE coalesce(lu.value, o.value) > 100.0
        |ORDER BY event_id, item, v""".stripMargin,
    "sql_enrich_log_ups_filtered_outer" ->
      """WITH ups AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view' AND value > 150.0),
        |ins AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'),
        |org AS (
        |  SELECT * FROM ins
        |  UNION ALL
        |  SELECT u.* FROM ups u
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT * FROM ins
        |                   UNION ALL SELECT * FROM ups) m
        |    WHERE m.user_id = u.user_id
        |      AND (m.ts < u.ts OR
        |           (m.ts = u.ts AND m.event_id < u.event_id))
        |      AND NOT EXISTS (SELECT 1 FROM events d
        |        WHERE d.event_type = 'error' AND d.value > 150.0
        |          AND d.user_id = u.user_id
        |          AND (d.ts > m.ts OR
        |               (d.ts = m.ts AND d.event_id > m.event_id))
        |          AND (d.ts < u.ts OR
        |               (d.ts = u.ts AND d.event_id < u.event_id))))),
        |pairs AS (
        |  SELECT e.event_id AS eid,
        |    coalesce(lu.event_id, o.event_id) AS item,
        |    round(coalesce(lu.value, o.value), 2) AS v
        |  FROM events e
        |  JOIN org o ON e.event_type = 'purchase'
        |    AND o.user_id = e.user_id
        |    AND (o.ts < e.ts OR (o.ts = e.ts AND o.event_id < e.event_id))
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 150.0
        |        AND d.user_id = e.user_id
        |        AND (d.ts > o.ts OR
        |             (d.ts = o.ts AND d.event_id > o.event_id))
        |        AND (d.ts < e.ts OR
        |             (d.ts = e.ts AND d.event_id < e.event_id)))
        |  LEFT JOIN LATERAL (
        |    SELECT u.event_id, u.value FROM ups u
        |    WHERE u.user_id = e.user_id
        |      AND (u.ts > o.ts OR (u.ts = o.ts AND u.event_id > o.event_id))
        |      AND (u.ts < e.ts OR (u.ts = e.ts AND u.event_id < e.event_id))
        |    ORDER BY u.ts DESC, u.event_id DESC LIMIT 1) lu ON TRUE
        |  WHERE coalesce(lu.value, o.value) > 100.0)
        |SELECT e.event_id AS event_id,
        |  coalesce(p.item, CAST(-1 AS BIGINT)) AS item,
        |  coalesce(p.v, 0.0) AS v
        |FROM events e LEFT JOIN pairs p ON p.eid = e.event_id
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id, item, v""".stripMargin,
    "sql_app_enrich_log_ups_filtered_outer_live" ->
      """WITH ups AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view' AND value > 150.0),
        |ins AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'),
        |org AS (
        |  SELECT * FROM ins
        |  UNION ALL
        |  SELECT u.* FROM ups u
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT * FROM ins
        |                   UNION ALL SELECT * FROM ups) m
        |    WHERE m.user_id = u.user_id
        |      AND (m.ts < u.ts OR
        |           (m.ts = u.ts AND m.event_id < u.event_id))
        |      AND NOT EXISTS (SELECT 1 FROM events d
        |        WHERE d.event_type = 'error' AND d.value > 150.0
        |          AND d.user_id = u.user_id
        |          AND (d.ts > m.ts OR
        |               (d.ts = m.ts AND d.event_id > m.event_id))
        |          AND (d.ts < u.ts OR
        |               (d.ts = u.ts AND d.event_id < u.event_id))))),
        |pairs AS (
        |  SELECT e.event_id AS eid,
        |    coalesce(lu.event_id, o.event_id) AS item,
        |    round(coalesce(lu.value, o.value), 2) AS v
        |  FROM events e
        |  JOIN org o ON e.event_type = 'purchase'
        |    AND o.user_id = e.user_id
        |    AND (o.ts < e.ts OR (o.ts = e.ts AND o.event_id < e.event_id))
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 150.0
        |        AND d.user_id = e.user_id
        |        AND (d.ts > o.ts OR
        |             (d.ts = o.ts AND d.event_id > o.event_id))
        |        AND (d.ts < e.ts OR
        |             (d.ts = e.ts AND d.event_id < e.event_id)))
        |  LEFT JOIN LATERAL (
        |    SELECT u.event_id, u.value FROM ups u
        |    WHERE u.user_id = e.user_id
        |      AND (u.ts > o.ts OR (u.ts = o.ts AND u.event_id > o.event_id))
        |      AND (u.ts < e.ts OR (u.ts = e.ts AND u.event_id < e.event_id))
        |    ORDER BY u.ts DESC, u.event_id DESC LIMIT 1) lu ON TRUE
        |  WHERE coalesce(lu.value, o.value) > 100.0)
        |SELECT e.event_id AS event_id,
        |  coalesce(p.item, CAST(-1 AS BIGINT)) AS item,
        |  coalesce(p.v, 0.0) AS v
        |FROM events e LEFT JOIN pairs p ON p.eid = e.event_id
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id, item, v""".stripMargin,
    "sql_enrich_log_ups" ->
      """WITH ups AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view' AND value > 150.0),
        |ins AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'),
        |org AS (
        |  SELECT * FROM ins
        |  UNION ALL
        |  SELECT u.* FROM ups u
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT * FROM ins
        |                   UNION ALL SELECT * FROM ups) m
        |    WHERE m.user_id = u.user_id
        |      AND (m.ts < u.ts OR
        |           (m.ts = u.ts AND m.event_id < u.event_id))
        |      AND NOT EXISTS (SELECT 1 FROM events d
        |        WHERE d.event_type = 'error' AND d.value > 150.0
        |          AND d.user_id = u.user_id
        |          AND (d.ts > m.ts OR
        |               (d.ts = m.ts AND d.event_id > m.event_id))
        |          AND (d.ts < u.ts OR
        |               (d.ts = u.ts AND d.event_id < u.event_id)))))
        |SELECT e.event_id AS event_id,
        |  coalesce(lu.event_id, o.event_id) AS item,
        |  round(coalesce(lu.value, o.value), 2) AS v
        |FROM events e
        |JOIN org o ON e.event_type = 'purchase'
        |  AND o.user_id = e.user_id
        |  AND (o.ts < e.ts OR (o.ts = e.ts AND o.event_id < e.event_id))
        |  AND NOT EXISTS (SELECT 1 FROM events d
        |    WHERE d.event_type = 'error' AND d.value > 150.0
        |      AND d.user_id = e.user_id
        |      AND (d.ts > o.ts OR
        |           (d.ts = o.ts AND d.event_id > o.event_id))
        |      AND (d.ts < e.ts OR
        |           (d.ts = e.ts AND d.event_id < e.event_id)))
        |LEFT JOIN LATERAL (
        |  SELECT u.event_id, u.value FROM ups u
        |  WHERE u.user_id = e.user_id
        |    AND (u.ts > o.ts OR (u.ts = o.ts AND u.event_id > o.event_id))
        |    AND (u.ts < e.ts OR (u.ts = e.ts AND u.event_id < e.event_id))
        |  ORDER BY u.ts DESC, u.event_id DESC LIMIT 1) lu ON TRUE
        |ORDER BY event_id, item, v""".stripMargin,
    "sql_app_enrich_log_ups_live" ->
      """WITH ups AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view' AND value > 150.0),
        |ins AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'),
        |org AS (
        |  SELECT * FROM ins
        |  UNION ALL
        |  SELECT u.* FROM ups u
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT * FROM ins
        |                   UNION ALL SELECT * FROM ups) m
        |    WHERE m.user_id = u.user_id
        |      AND (m.ts < u.ts OR
        |           (m.ts = u.ts AND m.event_id < u.event_id))
        |      AND NOT EXISTS (SELECT 1 FROM events d
        |        WHERE d.event_type = 'error' AND d.value > 150.0
        |          AND d.user_id = u.user_id
        |          AND (d.ts > m.ts OR
        |               (d.ts = m.ts AND d.event_id > m.event_id))
        |          AND (d.ts < u.ts OR
        |               (d.ts = u.ts AND d.event_id < u.event_id)))))
        |SELECT e.event_id AS event_id,
        |  coalesce(lu.event_id, o.event_id) AS item,
        |  round(coalesce(lu.value, o.value), 2) AS v
        |FROM events e
        |JOIN org o ON e.event_type = 'purchase'
        |  AND o.user_id = e.user_id
        |  AND (o.ts < e.ts OR (o.ts = e.ts AND o.event_id < e.event_id))
        |  AND NOT EXISTS (SELECT 1 FROM events d
        |    WHERE d.event_type = 'error' AND d.value > 150.0
        |      AND d.user_id = e.user_id
        |      AND (d.ts > o.ts OR
        |           (d.ts = o.ts AND d.event_id > o.event_id))
        |      AND (d.ts < e.ts OR
        |           (d.ts = e.ts AND d.event_id < e.event_id)))
        |LEFT JOIN LATERAL (
        |  SELECT u.event_id, u.value FROM ups u
        |  WHERE u.user_id = e.user_id
        |    AND (u.ts > o.ts OR (u.ts = o.ts AND u.event_id > o.event_id))
        |    AND (u.ts < e.ts OR (u.ts = e.ts AND u.event_id < e.event_id))
        |  ORDER BY u.ts DESC, u.event_id DESC LIMIT 1) lu ON TRUE
        |ORDER BY event_id, item, v""".stripMargin,
    // partition-wrapped per-event DML == the unwrapped as-of relation
    // (each purchase reads the latest click value for its user)
    "sql_partition_dml" ->
      """SELECT e.event_id AS event_id, round(c.value, 2) AS v
        |FROM events e JOIN events c
        |  ON e.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.user_id = e.user_id
        | AND (c.ts < e.ts OR (c.ts = e.ts AND c.event_id < e.event_id))
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events c2
        |  WHERE c2.event_type = 'click' AND c2.user_id = e.user_id
        |    AND (c2.ts > c.ts OR (c2.ts = c.ts AND c2.event_id > c.event_id))
        |    AND (c2.ts < e.ts OR (c2.ts = e.ts AND c2.event_id < e.event_id)))
        |ORDER BY event_id""".stripMargin,
    "sql_app_partition_dml_live" ->
      """SELECT e.event_id AS event_id, round(c.value, 2) AS v
        |FROM events e JOIN events c
        |  ON e.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.user_id = e.user_id
        | AND (c.ts < e.ts OR (c.ts = e.ts AND c.event_id < e.event_id))
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events c2
        |  WHERE c2.event_type = 'click' AND c2.user_id = e.user_id
        |    AND (c2.ts > c.ts OR (c2.ts = c.ts AND c2.event_id > c.event_id))
        |    AND (c2.ts < e.ts OR (c2.ts = e.ts AND c2.event_id < e.event_id)))
        |ORDER BY event_id""".stripMargin,
    // keyed partition + windowed upsert == per-(user, aligned bucket)
    // flushes, last bucket per user wins — the partition key is the
    // grouping even though the query has no `group by`
    "sql_partition_dml_win" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    count(*) AS cnt, sum(value) AS total
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT user_id, cnt, round(total, 2) AS total FROM flush
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY b DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "sql_app_partition_dml_win_live" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    count(*) AS cnt, sum(value) AS total
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT user_id, cnt, round(total, 2) AS total FROM flush
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY b DESC) = 1
        |ORDER BY user_id""".stripMargin,
    // range partition scopes the per-event writer to events matching
    // ANY range: last click with value > 120 per user
    "sql_partition_dml_range" ->
      """SELECT user_id, round(value, 2) AS v FROM (
        |  SELECT user_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'click' AND value > 120.0)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "sql_app_partition_dml_range_live" ->
      """SELECT user_id, round(value, 2) AS v FROM (
        |  SELECT user_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'click' AND value > 120.0)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // range + windowed: per-LABEL instances flush per (label, user,
    // bucket); first-match labels are disjoint, so the label within
    // the >= 50 set IS the writer (w: high = statement 0, mid = 1);
    // last (bucket, w) per user wins — the statement index tie-break
    // at equal buckets
    "sql_partition_dml_range_win" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    CASE WHEN value >= 150.0 THEN 0 ELSE 1 END AS w,
        |    count(*) AS cnt, sum(value) AS total
        |  FROM events WHERE event_type = 'click' AND value >= 50.0
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, cnt, round(total, 2) AS total FROM flush
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY b DESC, w DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "sql_app_partition_dml_range_win_live" ->
      """WITH flush AS (
        |  SELECT epoch_ns(ts) // 600000000000 AS b, user_id,
        |    CASE WHEN value >= 150.0 THEN 0 ELSE 1 END AS w,
        |    count(*) AS cnt, sum(value) AS total
        |  FROM events WHERE event_type = 'click' AND value >= 50.0
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, cnt, round(total, 2) AS total FROM flush
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY b DESC, w DESC) = 1
        |ORDER BY user_id""".stripMargin,
    // mixed writer group: per-event view upserts (w=0), 10-min click
    // flush upserts landing at (bucket start, 0, w=1), error>170
    // tombstones (w=2); per user the last surviving emission after
    // the last tombstone wins
    "sql_table_mixed_win" ->
      """WITH pe AS (
        |  SELECT user_id, round(value, 2) AS v,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'view'),
        |fl AS (
        |  SELECT user_id, round(sum(value), 2) AS v,
        |    (epoch_ns(ts) // 600000000000) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |u AS (SELECT * FROM pe UNION ALL SELECT * FROM fl),
        |sw AS (
        |  SELECT user_id, max(struct_pack(o_ts := epoch_ns(ts),
        |    o_id := event_id, w := 2)) AS so
        |  FROM events WHERE event_type = 'error' AND value > 170.0
        |  GROUP BY user_id)
        |SELECT user_id, v FROM (
        |  SELECT u.user_id AS user_id, u.v AS v, u.o_ts, u.o_id, u.w
        |  FROM u LEFT JOIN sw ON u.user_id = sw.user_id
        |  WHERE sw.so IS NULL OR
        |    struct_pack(o_ts := u.o_ts, o_id := u.o_id, w := u.w)
        |      > sw.so)
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY o_ts DESC, o_id DESC, w DESC) = 1
        |ORDER BY user_id""".stripMargin,
    // as-of read of the mixed table: per purchase, the last of (view
    // upserts at their instant, flush upserts at their bucket END)
    "sql_enrich_mixed_win" ->
      """WITH pe AS (
        |  SELECT user_id, round(value, 2) AS v,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'view'),
        |fl AS (
        |  SELECT user_id, round(sum(value), 2) AS v,
        |    (epoch_ns(ts) // 600000000000 + 1) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |u AS (SELECT * FROM pe UNION ALL SELECT * FROM fl)
        |SELECT e.event_id AS event_id, lu.v AS v
        |FROM events e
        |JOIN LATERAL (
        |  SELECT u.v FROM u
        |  WHERE u.user_id = e.user_id
        |    AND (u.o_ts < epoch_ns(e.ts) OR
        |      (u.o_ts = epoch_ns(e.ts) AND u.o_id <= e.event_id))
        |  ORDER BY u.o_ts DESC, u.o_id DESC, u.w DESC
        |  LIMIT 1) lu ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "sql_app_enrich_mixed_win_live" ->
      """WITH pe AS (
        |  SELECT user_id, round(value, 2) AS v,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'view'),
        |fl AS (
        |  SELECT user_id, round(sum(value), 2) AS v,
        |    (epoch_ns(ts) // 600000000000 + 1) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |u AS (SELECT * FROM pe UNION ALL SELECT * FROM fl)
        |SELECT e.event_id AS event_id, lu.v AS v
        |FROM events e
        |JOIN LATERAL (
        |  SELECT u.v FROM u
        |  WHERE u.user_id = e.user_id
        |    AND (u.o_ts < epoch_ns(e.ts) OR
        |      (u.o_ts = epoch_ns(e.ts) AND u.o_id <= e.event_id))
        |  ORDER BY u.o_ts DESC, u.o_id DESC, u.w DESC
        |  LIMIT 1) lu ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    // swept mixed as-of: the LAST mark (view upsert / flush upsert /
    // tombstone) at or before the purchase decides — tombstone =
    // dropped (inner join)
    "sql_enrich_mixed_sweep" ->
      """WITH u AS (
        |  SELECT user_id, round(value, 2) AS v, FALSE AS del,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, round(sum(value), 2) AS v, FALSE AS del,
        |    (epoch_ns(ts) // 600000000000 + 1) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000
        |  UNION ALL
        |  SELECT user_id, CAST(NULL AS DOUBLE) AS v, TRUE AS del,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 2 AS w
        |  FROM events WHERE event_type = 'error' AND value > 170.0)
        |SELECT event_id, v FROM (
        |  SELECT e.event_id AS event_id, lu.v AS v, lu.del AS del
        |  FROM events e
        |  JOIN LATERAL (
        |    SELECT u.v, u.del FROM u
        |    WHERE u.user_id = e.user_id
        |      AND (u.o_ts < epoch_ns(e.ts) OR
        |        (u.o_ts = epoch_ns(e.ts) AND u.o_id <= e.event_id))
        |    ORDER BY u.o_ts DESC, u.o_id DESC, u.w DESC
        |    LIMIT 1) lu ON TRUE
        |  WHERE e.event_type = 'purchase')
        |WHERE NOT del ORDER BY event_id""".stripMargin,
    "sql_app_enrich_mixed_sweep_live" ->
      """WITH u AS (
        |  SELECT user_id, round(value, 2) AS v, FALSE AS del,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, round(sum(value), 2) AS v, FALSE AS del,
        |    (epoch_ns(ts) // 600000000000 + 1) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000
        |  UNION ALL
        |  SELECT user_id, CAST(NULL AS DOUBLE) AS v, TRUE AS del,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 2 AS w
        |  FROM events WHERE event_type = 'error' AND value > 170.0)
        |SELECT event_id, v FROM (
        |  SELECT e.event_id AS event_id, lu.v AS v, lu.del AS del
        |  FROM events e
        |  JOIN LATERAL (
        |    SELECT u.v, u.del FROM u
        |    WHERE u.user_id = e.user_id
        |      AND (u.o_ts < epoch_ns(e.ts) OR
        |        (u.o_ts = epoch_ns(e.ts) AND u.o_id <= e.event_id))
        |    ORDER BY u.o_ts DESC, u.o_id DESC, u.w DESC
        |    LIMIT 1) lu ON TRUE
        |  WHERE e.event_type = 'purchase')
        |WHERE NOT del ORDER BY event_id""".stripMargin,
    // fold mixed as-of: first upsert's insert value + sum of later
    // deltas at or before the purchase (arg_min = the first row's
    // insert value and its own delta, excluded from the sum)
    "sql_enrich_mixed_fold" ->
      """WITH u AS (
        |  SELECT user_id, CAST(1 AS BIGINT) AS insv,
        |    CAST(1 AS BIGINT) AS delta,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, count(*) AS insv, count(*) AS delta,
        |    (epoch_ns(ts) // 600000000000 + 1) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000)
        |SELECT e.event_id AS event_id, lu.cnt AS cnt
        |FROM events e
        |JOIN LATERAL (
        |  SELECT CAST(first(u.insv ORDER BY u.o_ts, u.o_id, u.w)
        |    + sum(u.delta)
        |    - first(u.delta ORDER BY u.o_ts, u.o_id, u.w)
        |    AS BIGINT) AS cnt
        |  FROM u
        |  WHERE u.user_id = e.user_id
        |    AND (u.o_ts < epoch_ns(e.ts) OR
        |      (u.o_ts = epoch_ns(e.ts) AND u.o_id <= e.event_id))
        |  HAVING count(*) > 0) lu ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "sql_app_enrich_mixed_fold_live" ->
      """WITH u AS (
        |  SELECT user_id, CAST(1 AS BIGINT) AS insv,
        |    CAST(1 AS BIGINT) AS delta,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, count(*) AS insv, count(*) AS delta,
        |    (epoch_ns(ts) // 600000000000 + 1) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000)
        |SELECT e.event_id AS event_id, lu.cnt AS cnt
        |FROM events e
        |JOIN LATERAL (
        |  SELECT CAST(first(u.insv ORDER BY u.o_ts, u.o_id, u.w)
        |    + sum(u.delta)
        |    - first(u.delta ORDER BY u.o_ts, u.o_id, u.w)
        |    AS BIGINT) AS cnt
        |  FROM u
        |  WHERE u.user_id = e.user_id
        |    AND (u.o_ts < epoch_ns(e.ts) OR
        |      (u.o_ts = epoch_ns(e.ts) AND u.o_id <= e.event_id))
        |  HAVING count(*) > 0) lu ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    // shape-mixed table: per key, the last implicit reset's value (or
    // the first fold upsert's insert value) + the count of fold
    // emissions after it — reconstructed independently from the raw
    // events
    "sql_table_shape_mix" ->
      """WITH rst AS (
        |  SELECT user_id, event_id AS insv,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id) AS ro
        |  FROM events WHERE event_type = 'view'),
        |lastr AS (
        |  SELECT user_id, first(insv ORDER BY ro DESC) AS insv,
        |    max(ro) AS ro
        |  FROM rst GROUP BY user_id),
        |clk AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id) AS co
        |  FROM events WHERE event_type = 'click'),
        |agg AS (
        |  SELECT c.user_id, count(*) AS n
        |  FROM clk c LEFT JOIN lastr l ON c.user_id = l.user_id
        |  WHERE l.ro IS NULL OR c.co > l.ro
        |  GROUP BY c.user_id)
        |SELECT coalesce(l.user_id, a.user_id) AS user_id,
        |  CAST(coalesce(l.insv, 0) + coalesce(a.n, 0) AS BIGINT) AS cnt
        |FROM lastr l FULL JOIN agg a ON l.user_id = a.user_id
        |ORDER BY user_id""".stripMargin,
    // swept shape-mixed table: survivors of each key's last tombstone
    // — last surviving reset (or first surviving fold insert) + later
    // fold count
    "sql_table_shape_mix_swept" ->
      """WITH tmb AS (
        |  SELECT user_id, max(struct_pack(o_ts := epoch_ns(ts),
        |    o_id := event_id, w := CAST(2 AS BIGINT))) AS dord
        |  FROM events WHERE event_type = 'error' AND value > 170.0
        |  GROUP BY user_id),
        |rst AS (
        |  SELECT user_id, event_id AS insv,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(0 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'view'),
        |clk AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(1 AS BIGINT)) AS co
        |  FROM events WHERE event_type = 'click'),
        |rstl AS (
        |  SELECT r.user_id, first(insv ORDER BY ro DESC) AS insv,
        |    max(ro) AS ro
        |  FROM rst r LEFT JOIN tmb t ON r.user_id = t.user_id
        |  WHERE t.dord IS NULL OR r.ro > t.dord GROUP BY r.user_id),
        |agg AS (
        |  SELECT c.user_id, count(*) AS n
        |  FROM clk c LEFT JOIN tmb t ON c.user_id = t.user_id
        |  LEFT JOIN rstl l ON c.user_id = l.user_id
        |  WHERE (t.dord IS NULL OR c.co > t.dord)
        |    AND (l.ro IS NULL OR c.co > l.ro)
        |  GROUP BY c.user_id)
        |SELECT coalesce(l.user_id, a.user_id) AS user_id,
        |  CAST(coalesce(l.insv, 0) + coalesce(a.n, 0) AS BIGINT) AS cnt
        |FROM rstl l FULL JOIN agg a ON l.user_id = a.user_id
        |ORDER BY user_id""".stripMargin,
    // swept shape-mixed as-of: per purchase, marks after the key's
    // last tombstone at-or-before it decide
    "sql_enrich_shape_mix_swept" ->
      """WITH rst AS (
        |  SELECT user_id, event_id AS insv,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(0 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'view'),
        |clk AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(1 AS BIGINT)) AS co
        |  FROM events WHERE event_type = 'click'),
        |tmb AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(2 AS BIGINT)) AS dd
        |  FROM events WHERE event_type = 'error' AND value > 170.0)
        |SELECT event_id, CAST(coalesce(rv, 0) + n AS BIGINT) AS cnt
        |FROM (
        |  SELECT e.event_id AS event_id, r.insv AS rv, a.n AS n
        |  FROM events e
        |  LEFT JOIN LATERAL (
        |    SELECT max(dd) AS dord FROM tmb
        |    WHERE tmb.user_id = e.user_id
        |      AND tmb.dd <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id,
        |        w := CAST(9223372036854775807 AS BIGINT))
        |    ) t ON TRUE
        |  LEFT JOIN LATERAL (
        |    SELECT insv, ro FROM rst
        |    WHERE rst.user_id = e.user_id
        |      AND rst.ro <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id,
        |        w := CAST(9223372036854775807 AS BIGINT))
        |      AND (t.dord IS NULL OR rst.ro > t.dord)
        |    ORDER BY ro DESC LIMIT 1) r ON TRUE
        |  LEFT JOIN LATERAL (
        |    SELECT count(*) AS n FROM clk c
        |    WHERE c.user_id = e.user_id
        |      AND c.co <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id,
        |        w := CAST(9223372036854775807 AS BIGINT))
        |      AND (t.dord IS NULL OR c.co > t.dord)
        |      AND (r.ro IS NULL OR c.co > r.ro)) a ON TRUE
        |  WHERE e.event_type = 'purchase')
        |WHERE rv IS NOT NULL OR n > 0
        |ORDER BY event_id""".stripMargin,
    // shape-mixed as-of read: per purchase, last reset ≤ it + count
    // of fold emissions in (reset, purchase]; present iff a reset or
    // any fold emission precedes it
    "sql_enrich_mixed_shapes" ->
      """WITH rst AS (
        |  SELECT user_id, event_id AS insv,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id) AS ro
        |  FROM events WHERE event_type = 'view'),
        |clk AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id) AS co
        |  FROM events WHERE event_type = 'click')
        |SELECT event_id, CAST(coalesce(rv, 0) + n AS BIGINT) AS cnt
        |FROM (
        |  SELECT e.event_id AS event_id, r.insv AS rv, a.n AS n
        |  FROM events e
        |  LEFT JOIN LATERAL (
        |    SELECT insv, ro FROM rst
        |    WHERE rst.user_id = e.user_id
        |      AND rst.ro <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id)
        |    ORDER BY ro DESC LIMIT 1) r ON TRUE
        |  LEFT JOIN LATERAL (
        |    SELECT count(*) AS n FROM clk c
        |    WHERE c.user_id = e.user_id
        |      AND c.co <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id)
        |      AND (r.ro IS NULL OR c.co > r.ro)) a ON TRUE
        |  WHERE e.event_type = 'purchase')
        |WHERE rv IS NOT NULL OR n > 0
        |ORDER BY event_id""".stripMargin,
    "sql_app_enrich_mixed_shapes_live" ->
      """WITH rst AS (
        |  SELECT user_id, event_id AS insv,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id) AS ro
        |  FROM events WHERE event_type = 'view'),
        |clk AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id) AS co
        |  FROM events WHERE event_type = 'click')
        |SELECT event_id, CAST(coalesce(rv, 0) + n AS BIGINT) AS cnt
        |FROM (
        |  SELECT e.event_id AS event_id, r.insv AS rv, a.n AS n
        |  FROM events e
        |  LEFT JOIN LATERAL (
        |    SELECT insv, ro FROM rst
        |    WHERE rst.user_id = e.user_id
        |      AND rst.ro <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id)
        |    ORDER BY ro DESC LIMIT 1) r ON TRUE
        |  LEFT JOIN LATERAL (
        |    SELECT count(*) AS n FROM clk c
        |    WHERE c.user_id = e.user_id
        |      AND c.co <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id)
        |      AND (r.ro IS NULL OR c.co > r.ro)) a ON TRUE
        |  WHERE e.event_type = 'purchase')
        |WHERE rv IS NOT NULL OR n > 0
        |ORDER BY event_id""".stripMargin,
    // windowed event-log member: log rows = per-event click inserts
    // at their instant UNION each 10-min view bucket's aggregate row
    // at its bucket END; a row is live at a purchase iff no tombstone
    // for its key sits between it and the purchase
    "sql_enrich_log_win" ->
      """WITH lr AS (
        |  SELECT user_id, event_id AS item, value AS v,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(0 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, min(event_id) AS item,
        |    round(sum(value), 2) AS v,
        |    struct_pack(
        |      o_ts := (epoch_ns(ts) // 600000000000 + 1)
        |        * 600000000000,
        |      o_id := CAST(0 AS BIGINT), w := CAST(1 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'view'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |tmb AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(2 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'error' AND value > 170.0)
        |SELECT e.event_id AS event_id, l.item AS item, l.v AS v
        |FROM events e
        |JOIN lr l ON l.user_id = e.user_id
        |  AND l.ro <= struct_pack(o_ts := epoch_ns(e.ts),
        |    o_id := e.event_id,
        |    w := CAST(9223372036854775807 AS BIGINT))
        |  AND NOT EXISTS (
        |    SELECT 1 FROM tmb t WHERE t.user_id = e.user_id
        |      AND t.ro > l.ro
        |      AND t.ro <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id,
        |        w := CAST(9223372036854775807 AS BIGINT)))
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id, item, v""".stripMargin,
    "sql_app_enrich_log_win_live" ->
      """WITH lr AS (
        |  SELECT user_id, event_id AS item, value AS v,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(0 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, min(event_id) AS item,
        |    round(sum(value), 2) AS v,
        |    struct_pack(
        |      o_ts := (epoch_ns(ts) // 600000000000 + 1)
        |        * 600000000000,
        |      o_id := CAST(0 AS BIGINT), w := CAST(1 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'view'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |tmb AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(2 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'error' AND value > 170.0)
        |SELECT e.event_id AS event_id, l.item AS item, l.v AS v
        |FROM events e
        |JOIN lr l ON l.user_id = e.user_id
        |  AND l.ro <= struct_pack(o_ts := epoch_ns(e.ts),
        |    o_id := e.event_id,
        |    w := CAST(9223372036854775807 AS BIGINT))
        |  AND NOT EXISTS (
        |    SELECT 1 FROM tmb t WHERE t.user_id = e.user_id
        |      AND t.ro > l.ro
        |      AND t.ro <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id,
        |        w := CAST(9223372036854775807 AS BIGINT)))
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id, item, v""".stripMargin,
    // aggregation over the windowed event-log pairs: same live-row
    // construction, grouped per purchase user (long sums — exact)
    "sql_app_enrich_log_win_agg_live" -> logWinAggOracle,
    // windowed shape-mix as-of: resets = view upserts at their
    // instant ∪ error-flush upserts at their bucket END; per purchase
    // cnt = last reset ≤ it + count of click folds after that reset
    // (or the total click count when no reset precedes it)
    "sql_enrich_shape_mix_win" ->
      """WITH rst AS (
        |  SELECT user_id, CAST(event_id % 1000 AS BIGINT) AS v,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(0 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, count(*) AS v,
        |    struct_pack(
        |      o_ts := (epoch_ns(ts) // 600000000000 + 1)
        |        * 600000000000,
        |      o_id := CAST(0 AS BIGINT), w := CAST(2 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'error'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |clk AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(1 AS BIGINT)) AS co
        |  FROM events WHERE event_type = 'click')
        |SELECT event_id, CAST(coalesce(rv, 0) + n AS BIGINT) AS cnt
        |FROM (
        |  SELECT e.event_id AS event_id, r.v AS rv, a.n AS n
        |  FROM events e
        |  LEFT JOIN LATERAL (
        |    SELECT v, ro FROM rst
        |    WHERE rst.user_id = e.user_id
        |      AND rst.ro <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id,
        |        w := CAST(9223372036854775807 AS BIGINT))
        |    ORDER BY ro DESC LIMIT 1) r ON TRUE
        |  LEFT JOIN LATERAL (
        |    SELECT count(*) AS n FROM clk c
        |    WHERE c.user_id = e.user_id
        |      AND c.co <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id,
        |        w := CAST(9223372036854775807 AS BIGINT))
        |      AND (r.ro IS NULL OR c.co > r.ro)) a ON TRUE
        |  WHERE e.event_type = 'purchase')
        |WHERE rv IS NOT NULL OR n > 0
        |ORDER BY event_id""".stripMargin,
    "sql_app_enrich_shape_mix_win_live" ->
      """WITH rst AS (
        |  SELECT user_id, CAST(event_id % 1000 AS BIGINT) AS v,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(0 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, count(*) AS v,
        |    struct_pack(
        |      o_ts := (epoch_ns(ts) // 600000000000 + 1)
        |        * 600000000000,
        |      o_id := CAST(0 AS BIGINT), w := CAST(2 AS BIGINT)) AS ro
        |  FROM events WHERE event_type = 'error'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |clk AS (
        |  SELECT user_id,
        |    struct_pack(o_ts := epoch_ns(ts), o_id := event_id,
        |      w := CAST(1 AS BIGINT)) AS co
        |  FROM events WHERE event_type = 'click')
        |SELECT event_id, CAST(coalesce(rv, 0) + n AS BIGINT) AS cnt
        |FROM (
        |  SELECT e.event_id AS event_id, r.v AS rv, a.n AS n
        |  FROM events e
        |  LEFT JOIN LATERAL (
        |    SELECT v, ro FROM rst
        |    WHERE rst.user_id = e.user_id
        |      AND rst.ro <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id,
        |        w := CAST(9223372036854775807 AS BIGINT))
        |    ORDER BY ro DESC LIMIT 1) r ON TRUE
        |  LEFT JOIN LATERAL (
        |    SELECT count(*) AS n FROM clk c
        |    WHERE c.user_id = e.user_id
        |      AND c.co <= struct_pack(o_ts := epoch_ns(e.ts),
        |        o_id := e.event_id,
        |        w := CAST(9223372036854775807 AS BIGINT))
        |      AND (r.ro IS NULL OR c.co > r.ro)) a ON TRUE
        |  WHERE e.event_type = 'purchase')
        |WHERE rv IS NOT NULL OR n > 0
        |ORDER BY event_id""".stripMargin,
    // multi-windowed as-of: two flush relations at their own bucket
    // ENDS (10 min sum vs 7 min avg), last-at-or-before the purchase
    // wins, same-instant flushes (the 70-min LCM ends) tie-broken by
    // statement index — the oracle reconstructs both flush relations
    // independently in DuckDB
    "sql_enrich_multiwin" ->
      """WITH f0 AS (
        |  SELECT user_id, round(sum(value), 2) AS v,
        |    (epoch_ns(ts) // 600000000000 + 1) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'click' AND value >= 150.0
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |f1 AS (
        |  SELECT user_id, round(avg(value), 2) AS v,
        |    (epoch_ns(ts) // 420000000000 + 1) * 420000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click' AND value < 150.0
        |  GROUP BY user_id, epoch_ns(ts) // 420000000000),
        |u AS (SELECT * FROM f0 UNION ALL SELECT * FROM f1)
        |SELECT e.event_id AS event_id, lu.v AS v
        |FROM events e
        |JOIN LATERAL (
        |  SELECT u.v FROM u
        |  WHERE u.user_id = e.user_id
        |    AND (u.o_ts < epoch_ns(e.ts) OR
        |      (u.o_ts = epoch_ns(e.ts) AND u.o_id <= e.event_id))
        |  ORDER BY u.o_ts DESC, u.o_id DESC, u.w DESC
        |  LIMIT 1) lu ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "sql_app_enrich_multiwin_live" ->
      """WITH f0 AS (
        |  SELECT user_id, round(sum(value), 2) AS v,
        |    (epoch_ns(ts) // 600000000000 + 1) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'click' AND value >= 150.0
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |f1 AS (
        |  SELECT user_id, round(avg(value), 2) AS v,
        |    (epoch_ns(ts) // 420000000000 + 1) * 420000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click' AND value < 150.0
        |  GROUP BY user_id, epoch_ns(ts) // 420000000000),
        |u AS (SELECT * FROM f0 UNION ALL SELECT * FROM f1)
        |SELECT e.event_id AS event_id, lu.v AS v
        |FROM events e
        |JOIN LATERAL (
        |  SELECT u.v FROM u
        |  WHERE u.user_id = e.user_id
        |    AND (u.o_ts < epoch_ns(e.ts) OR
        |      (u.o_ts = epoch_ns(e.ts) AND u.o_id <= e.event_id))
        |  ORDER BY u.o_ts DESC, u.o_id DESC, u.w DESC
        |  LIMIT 1) lu ON TRUE
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "sql_app_table_mixed_win_live" ->
      """WITH pe AS (
        |  SELECT user_id, round(value, 2) AS v,
        |    epoch_ns(ts) AS o_ts, event_id AS o_id, 0 AS w
        |  FROM events WHERE event_type = 'view'),
        |fl AS (
        |  SELECT user_id, round(sum(value), 2) AS v,
        |    (epoch_ns(ts) // 600000000000) * 600000000000 AS o_ts,
        |    CAST(0 AS BIGINT) AS o_id, 1 AS w
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_ns(ts) // 600000000000),
        |u AS (SELECT * FROM pe UNION ALL SELECT * FROM fl),
        |sw AS (
        |  SELECT user_id, max(struct_pack(o_ts := epoch_ns(ts),
        |    o_id := event_id, w := 2)) AS so
        |  FROM events WHERE event_type = 'error' AND value > 170.0
        |  GROUP BY user_id)
        |SELECT user_id, v FROM (
        |  SELECT u.user_id AS user_id, u.v AS v, u.o_ts, u.o_id, u.w
        |  FROM u LEFT JOIN sw ON u.user_id = sw.user_id
        |  WHERE sw.so IS NULL OR
        |    struct_pack(o_ts := u.o_ts, o_id := u.o_id, w := u.w)
        |      > sw.so)
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY o_ts DESC, o_id DESC, w DESC) = 1
        |ORDER BY user_id""".stripMargin,
    // overlapping writer/read filters: statement order makes an
    // event's OWN insert visible to its read ('add' precedes 'read'),
    // so the match bound is at-or-before (<= on the event_id tie) —
    // vs the strictly-earlier bound of the disjoint-filter gates
    "sql_enrich_log_self" ->
      """SELECT e.event_id AS event_id, a.event_id AS item,
        |  round(a.value, 2) AS v
        |FROM events e JOIN events a
        |  ON (e.event_type = 'purchase' OR
        |      (e.event_type = 'click' AND e.value > 190.0))
        | AND a.event_type = 'click'
        | AND a.user_id = e.user_id
        | AND (a.ts < e.ts OR (a.ts = e.ts AND a.event_id <= e.event_id))
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events d
        |  WHERE d.event_type = 'error' AND d.value > 150.0
        |    AND d.user_id = e.user_id
        |    AND (d.ts > a.ts OR (d.ts = a.ts AND d.event_id > a.event_id))
        |    AND (d.ts < e.ts OR (d.ts = e.ts AND d.event_id < e.event_id)))
        |ORDER BY event_id, item""".stripMargin,
    "sql_app_enrich_log_self_live" ->
      """SELECT e.event_id AS event_id, a.event_id AS item,
        |  round(a.value, 2) AS v
        |FROM events e JOIN events a
        |  ON (e.event_type = 'purchase' OR
        |      (e.event_type = 'click' AND e.value > 190.0))
        | AND a.event_type = 'click'
        | AND a.user_id = e.user_id
        | AND (a.ts < e.ts OR (a.ts = e.ts AND a.event_id <= e.event_id))
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events d
        |  WHERE d.event_type = 'error' AND d.value > 150.0
        |    AND d.user_id = e.user_id
        |    AND (d.ts > a.ts OR (d.ts = a.ts AND d.event_id > a.event_id))
        |    AND (d.ts < e.ts OR (d.ts = e.ts AND d.event_id < e.event_id)))
        |ORDER BY event_id, item""".stripMargin,
    // insert+delete interleaved replay: an inserted row (stmt 0)
    // survives iff no purchase by its user sits at or after its
    // (ts, event_id) position (same event ⇒ the stmt-1 tombstone
    // wins); the same truth gates the live twin
    "sql_table_insert_delete" ->
      """SELECT i.event_id, i.user_id, round(i.value, 2) AS v
        |FROM events i
        |WHERE i.value > 150.0 AND NOT EXISTS (
        |  SELECT 1 FROM events d
        |  WHERE d.event_type = 'purchase' AND d.user_id = i.user_id
        |    AND (d.ts > i.ts OR
        |         (d.ts = i.ts AND d.event_id >= i.event_id)))
        |ORDER BY i.event_id""".stripMargin,
    "sql_app_table_insert_delete_live" ->
      """SELECT i.event_id, i.user_id, round(i.value, 2) AS v
        |FROM events i
        |WHERE i.value > 150.0 AND NOT EXISTS (
        |  SELECT 1 FROM events d
        |  WHERE d.event_type = 'purchase' AND d.user_id = i.user_id
        |    AND (d.ts > i.ts OR
        |         (d.ts = i.ts AND d.event_id >= i.event_id)))
        |ORDER BY i.event_id""".stripMargin,
    // insert + implicit-set upsert multiset replay: origins = live
    // inserts plus a live upsert that is the FIRST live emission of
    // its key; every origin older than the key's LAST live upsert
    // takes that upsert's value (intermediate upserts are fully
    // overwritten); live = no error sweep at-or-after the emission
    "sql_table_insert_upsert" ->
      """WITH live_ins AS (
        |  SELECT i.user_id, i.value AS v, i.ts, i.event_id
        |  FROM events i
        |  WHERE i.event_type = 'click' AND i.value > 120.0
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = i.user_id
        |        AND (d.ts > i.ts OR
        |             (d.ts = i.ts AND d.event_id > i.event_id)))),
        |live_ups AS (
        |  SELECT u.user_id, u.value AS v, u.ts, u.event_id
        |  FROM events u
        |  WHERE u.event_type = 'purchase'
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = u.user_id
        |        AND (d.ts > u.ts OR
        |             (d.ts = u.ts AND d.event_id > u.event_id)))),
        |lastu AS (
        |  SELECT user_id, v, ts, event_id FROM (
        |    SELECT user_id, v, ts, event_id, row_number() OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM live_ups) t WHERE rn = 1),
        |org AS (
        |  SELECT * FROM live_ins
        |  UNION ALL
        |  SELECT u.* FROM live_ups u
        |  WHERE NOT EXISTS (SELECT 1 FROM live_ins i
        |      WHERE i.user_id = u.user_id
        |        AND (i.ts < u.ts OR
        |             (i.ts = u.ts AND i.event_id < u.event_id)))
        |    AND NOT EXISTS (SELECT 1 FROM live_ups u2
        |      WHERE u2.user_id = u.user_id
        |        AND (u2.ts < u.ts OR
        |             (u2.ts = u.ts AND u2.event_id < u.event_id))))
        |SELECT o.user_id AS user_id,
        |  round(CASE WHEN l.user_id IS NOT NULL AND (l.ts > o.ts OR
        |      (l.ts = o.ts AND l.event_id > o.event_id)) THEN l.v
        |    ELSE o.v END, 2) AS v
        |FROM org o LEFT JOIN lastu l ON l.user_id = o.user_id
        |ORDER BY user_id, v""".stripMargin,
    "sql_app_table_insert_upsert_live" ->
      """WITH live_ins AS (
        |  SELECT i.user_id, i.value AS v, i.ts, i.event_id
        |  FROM events i
        |  WHERE i.event_type = 'click' AND i.value > 120.0
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = i.user_id
        |        AND (d.ts > i.ts OR
        |             (d.ts = i.ts AND d.event_id > i.event_id)))),
        |live_ups AS (
        |  SELECT u.user_id, u.value AS v, u.ts, u.event_id
        |  FROM events u
        |  WHERE u.event_type = 'purchase'
        |    AND NOT EXISTS (SELECT 1 FROM events d
        |      WHERE d.event_type = 'error' AND d.value > 170.0
        |        AND d.user_id = u.user_id
        |        AND (d.ts > u.ts OR
        |             (d.ts = u.ts AND d.event_id > u.event_id)))),
        |lastu AS (
        |  SELECT user_id, v, ts, event_id FROM (
        |    SELECT user_id, v, ts, event_id, row_number() OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM live_ups) t WHERE rn = 1),
        |org AS (
        |  SELECT * FROM live_ins
        |  UNION ALL
        |  SELECT u.* FROM live_ups u
        |  WHERE NOT EXISTS (SELECT 1 FROM live_ins i
        |      WHERE i.user_id = u.user_id
        |        AND (i.ts < u.ts OR
        |             (i.ts = u.ts AND i.event_id < u.event_id)))
        |    AND NOT EXISTS (SELECT 1 FROM live_ups u2
        |      WHERE u2.user_id = u.user_id
        |        AND (u2.ts < u.ts OR
        |             (u2.ts = u.ts AND u2.event_id < u.event_id))))
        |SELECT o.user_id AS user_id,
        |  round(CASE WHEN l.user_id IS NOT NULL AND (l.ts > o.ts OR
        |      (l.ts = o.ts AND l.event_id > o.event_id)) THEN l.v
        |    ELSE o.v END, 2) AS v
        |FROM org o LEFT JOIN lastu l ON l.user_id = o.user_id
        |ORDER BY user_id, v""".stripMargin,
    // interleaved replay: every event upserts (seed, stmt 0), a
    // matching purge event then tombstones the key (stmt 1) — so a
    // user survives iff their LAST event is not a purge trigger, and
    // the surviving row carries that last event's value
    "sql_table_delete" ->
      """SELECT user_id, last_value FROM (
        |  SELECT user_id, value AS last_value, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) e
        |WHERE rn = 1 AND NOT (event_type = 'error' AND value > 150.0)
        |ORDER BY user_id""".stripMargin,
    // live trigger ticks: aligned 10-min interval starts over the
    // event-time span, filtered to whole hours
    "sql_app_trigger_live" ->
      """WITH span AS (SELECT
        |    min(epoch_ns(ts)) // 600000000000 * 600000 AS lo,
        |    max(epoch_ns(ts)) // 600000000000 * 600000 AS hi
        |  FROM events)
        |SELECT tick_ms, tick_ms / 3600000 AS hour_no FROM (
        |  SELECT unnest(generate_series(lo, hi, 600000)) AS tick_ms
        |  FROM span) t
        |WHERE tick_ms % 3600000 = 0 ORDER BY tick_ms""".stripMargin,
    // live grain cascade ≡ batch: hour buckets inside [Jan 2, Jan 5)
    "sql_app_incremental_live" ->
      """SELECT epoch_ms(ts) // 3600000 * 3600000 AS bucket_start_ms,
        |  user_id, round(sum(value), 2) AS total, count(*) AS cnt,
        |  max(value) AS mx
        |FROM events
        |WHERE epoch_ms(ts) >= 1704153600000 AND epoch_ms(ts) < 1704412800000
        |GROUP BY 1, 2 ORDER BY bucket_start_ms, user_id""".stripMargin,
    // same truth as sql_app_absence_live: the 5-min absence closes
    // before the 30-min within, so `within` only arms eviction
    "sql_app_absence_within_live" ->
      """SELECT e.user_id, e.event_id
        |FROM events e WHERE e.event_type = 'error' AND NOT EXISTS (
        |  SELECT 1 FROM events p WHERE p.event_type = 'purchase'
        |    AND p.user_id = e.user_id AND p.ts > e.ts
        |    AND p.ts <= e.ts + INTERVAL 5 MINUTE)
        |ORDER BY e.event_id""".stripMargin,
    // absence: an error with NO same-user purchase in its 5-minute
    // window (inclusive deadline, NFA semantics — same truth as the
    // engine twin cep_absence)
    "sql_app_absence_live" ->
      """SELECT e.user_id, e.event_id
        |FROM events e WHERE e.event_type = 'error' AND NOT EXISTS (
        |  SELECT 1 FROM events p WHERE p.event_type = 'purchase'
        |    AND p.user_id = e.user_id AND p.ts > e.ts
        |    AND p.ts <= e.ts + INTERVAL 5 MINUTE)
        |ORDER BY e.event_id""".stripMargin,
    // greedy first-match: each error takes the FIRST later purchase with
    // a larger value, within 5 min (inclusive deadline, NFA semantics)
    "sql_app_pattern_live" ->
      """SELECT user_id, start_id, next_id, next_value FROM (
        |  SELECT e.user_id, e.event_id AS start_id, p.event_id AS next_id,
        |    p.value AS next_value,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY p.ts, p.event_id) AS rk
        |  FROM events e JOIN events p ON e.user_id = p.user_id
        |    AND e.event_type = 'error' AND p.event_type = 'purchase'
        |    AND p.value > e.value
        |    AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 5 MINUTE) t
        |WHERE rk = 1 ORDER BY start_id, next_id""".stripMargin,
    // errors with a silent 5-min window, completed by the FIRST click
    // strictly after the deadline (greedy NFA; deadline inclusive for
    // violations, exclusive for the confirming next step)
    "sql_pattern_absence_mid" ->
      """WITH er AS (SELECT user_id, event_id, epoch_ns(ts) AS ens
        |  FROM events WHERE event_type = 'error'),
        |ok AS (SELECT er.* FROM er WHERE NOT EXISTS (
        |  SELECT 1 FROM events p WHERE p.event_type = 'purchase'
        |    AND p.user_id = er.user_id AND epoch_ns(p.ts) > er.ens
        |    AND epoch_ns(p.ts) <= er.ens + 300000000000)),
        |c AS (SELECT o.user_id, o.event_id AS start_id,
        |    k.event_id AS click_id,
        |    row_number() OVER (PARTITION BY o.event_id
        |      ORDER BY epoch_ns(k.ts), k.event_id) AS rk
        |  FROM ok o JOIN events k ON k.user_id = o.user_id
        |    AND k.event_type = 'click'
        |    AND epoch_ns(k.ts) > o.ens + 300000000000)
        |SELECT user_id, start_id, click_id FROM c WHERE rk = 1
        |ORDER BY start_id""".stripMargin,
    "sql_app_absence_mid_live" ->
      """WITH er AS (SELECT user_id, event_id, epoch_ns(ts) AS ens
        |  FROM events WHERE event_type = 'error'),
        |ok AS (SELECT er.* FROM er WHERE NOT EXISTS (
        |  SELECT 1 FROM events p WHERE p.event_type = 'purchase'
        |    AND p.user_id = er.user_id AND epoch_ns(p.ts) > er.ens
        |    AND epoch_ns(p.ts) <= er.ens + 300000000000)),
        |c AS (SELECT o.user_id, o.event_id AS start_id,
        |    k.event_id AS click_id,
        |    row_number() OVER (PARTITION BY o.event_id
        |      ORDER BY epoch_ns(k.ts), k.event_id) AS rk
        |  FROM ok o JOIN events k ON k.user_id = o.user_id
        |    AND k.event_type = 'click'
        |    AND epoch_ns(k.ts) > o.ens + 300000000000)
        |SELECT user_id, start_id, click_id FROM c WHERE rk = 1
        |ORDER BY start_id""".stripMargin,
    "sql_pattern_seq" ->
      """SELECT user_id, start_id, next_id, next_value FROM (
        |  SELECT e.user_id, e.event_id AS start_id, p.event_id AS next_id,
        |    p.value AS next_value,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY p.ts, p.event_id) AS rk
        |  FROM events e JOIN events p ON e.user_id = p.user_id
        |    AND e.event_type = 'error' AND p.event_type = 'purchase'
        |    AND p.value > e.value
        |    AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 5 MINUTE) t
        |WHERE rk = 1 ORDER BY start_id, next_id""".stripMargin
  )
}
