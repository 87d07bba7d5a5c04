package graft.api

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Prints what [[SiddhiQL.deployStages]] lowers one live app per
  * lowering arm to, so two trees can be compared byte for byte:
  *
  *   sbt "Test/runMain graft.api.LivePlanDump <sfDir>"
  *
  * Each app (the texts of the live oracle gates in
  * [[graft.engine.SqlGate]]) deploys over the BATCH events table of
  * `sfDir`. A [[SiddhiQL.Streamed]] stage prints its mode, carried
  * columns and optimized plan. A [[SiddhiQL.Folded]] stage prints its
  * output schema, each state's name, schema and [[SiddhiQL.StateMode]],
  * and the optimized plans of the built fold's feed, its batch-key
  * probes over the feed, one fold step over empty states and its
  * finish over empty states. Expression ids and lambda instances are
  * masked; a piece that fails to build prints its error instead.
  *
  * A batch section follows: for one app per window kind and per
  * windowed-join shape, the masked optimized plan of the query
  * [[SiddhiQL.compileApp]] builds over `sfDir`, then the number of
  * `Exchange` nodes (shuffles, broadcasts and reused exchanges) in
  * its physical plan. */
object LivePlanDump {
  private val apps: Seq[(String, (String, String))] = Seq(
    "dml_single" -> (
      """|define stream events (event_id long, ts_ns long, user_id long,
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
        .stripMargin,
        "track"),
    "dml_multi" -> (
      """|define stream events (event_id long, ts_ns long, user_id long,
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
        .stripMargin,
        "buys"),
    "dml_multi_win" -> (
      """|define stream events (event_id long, ts_ns long, user_id long,
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
        |insert into Out""".stripMargin,
        "read"),
    "dml_win" -> (
      """|define stream events (event_id long, ts_ns long, user_id long,
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
        |  on Acc.user_id == user_id""".stripMargin,
        "roll"),
    "table_read" -> (
      """|define table Log (user_id long, v double);
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
        |insert into Out""".stripMargin,
        "read"),
    "trigger" -> (
      """|define trigger T at every 10 min;
        |
        |@info(name = 'ticks')
        |from T[tick_ms % (3600 * 1000) == 0]
        |select tick_ms, tick_ms / (3600 * 1000) as hour_no
        |order by tick_ms
        |insert into Out""".stripMargin,
        "ticks"),
    "agg_read" -> (
      """|define aggregation EvAgg
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
        |insert into Out""".stripMargin,
        "read"),
    "timebatch" -> (
      """|define window HotWin (event_id long, ts_ns long, user_id long,
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
        |insert into Out""".stripMargin,
        "perMin"),
    "timebatch_aligned" -> (
      """|define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@info(name = 'roll')
        |from events#window.timeBatch(10 min, 3 min)
        |select user_id, math:round(sum(value), 2) as total,
        |  count() as n
        |group by user_id
        |order by w_start_ms, user_id
        |insert into Out""".stripMargin,
        "roll"),
    "cron" -> (
      """|@info(name = 'c')
        |from events#window.cron('0 0/15 * * * ?')
        |select count() as n, math:round(avg(value), 6) as avg_value
        |order by cron_tick_ms
        |insert into Out""".stripMargin,
        "c"),
    "session" -> (
      """|@info(name = 'sess')
        |from events#window.session(2 min)
        |select user_id, count() as n, math:round(sum(value), 2) as total
        |group by user_id
        |order by user_id, w_start_ms
        |insert into Out""".stripMargin,
        "sess"),
    "unique_first" -> (
      """|@info(name = 'u')
        |from events#window.unique:first(user_id)
        |select event_id, user_id, value
        |order by event_id
        |insert into Out""".stripMargin,
        "u"),
    "unique_last" -> (
      """|@info(name = 'u')
        |from events#window.unique:last(user_id)
        |select event_id, user_id, value
        |order by user_id
        |insert into Out""".stripMargin,
        "u"),
    "expression" -> (
      """|@info(name = 'x')
        |from events#window.expression('count() < 7')
        |select event_id, user_id, count() as occ,
        |  math:round(sum(value), 2) as sv
        |group by user_id
        |order by event_id
        |insert into Out""".stripMargin,
        "x"),
    "delay" -> (
      """|@info(name = 'd')
        |from events#window.delay(90 sec)
        |select event_id, ts_ns, user_id, event_type, value
        |insert into Delayed;
        |
        |@info(name = 'agg')
        |from Delayed#window.timeBatch(1 min)
        |select count() as n, math:round(sum(value), 2) as total
        |order by w_start_ms
        |insert into Out""".stripMargin,
        "agg"),
    "timelength" -> (
      """|@info(name = 'tl')
        |from events#window.timeLength(2 min, 10)
        |select event_id, user_id, count() as occ,
        |  math:round(sum(value), 2) as sv, max(value) as mx
        |group by user_id
        |order by event_id
        |insert into Out""".stripMargin,
        "tl"),
    "length" -> (
      """|@info(name = 'sl')
        |from events#window.length(20)
        |select event_id, user_id, math:round(sum(value), 2) as s20,
        |  count() as n20
        |group by user_id
        |order by event_id
        |insert into Out""".stripMargin,
        "sl"),
    "sort" -> (
      """|@info(name = 'sk')
        |from events#window.sort(5, value, 'desc')
        |select math:round(sum(value), 2) as sv, count() as n,
        |  math:round(min(value), 2) as vmin
        |insert into Out""".stripMargin,
        "sk"),
    "frequent" -> (
      """|@info(name = 'fq')
        |from events#window.frequent(3, event_type)
        |select event_type, count() as n
        |group by event_type
        |order by event_type
        |insert into Out""".stripMargin,
        "fq"),
    "global_agg" -> (
      """|@info(name = 'totals')
        |from events[value > 50.0]
        |select user_id, count() as n, math:round(sum(value), 2) as sv
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin,
        "totals"),
    "rate" -> (
      """|@info(name = 'first_per_min')
        |from events[value > 100.0]
        |select event_id, user_id, value
        |order by event_id
        |output first every 1 min
        |insert into Out""".stripMargin,
        "first_per_min"),
    "rate_window" -> (
      """|@info(name = 'downsample')
        |from events[event_type == 'view']#window.timeBatch(1 min)
        |select math:round(sum(value), 2) as total, count() as n
        |output last every 10 min
        |order by w_end_ms
        |insert into Out""".stripMargin,
        "downsample"),
    "pattern" -> (
      """|@info(name = 'alerts')
        |from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase' and value > e1.value]
        |  within 5 min
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as next_id, e2.value as next_value
        |order by start_id, next_id
        |insert into alerts""".stripMargin,
        "alerts"),
    "absence" -> (
      """|@info(name = 'alerts')
        |from every e1=events[event_type == 'error']
        |  -> not events[event_type == 'purchase' and
        |     user_id == e1.user_id] for 5 min
        |select e1.user_id as user_id, e1.event_id as event_id
        |order by event_id
        |insert into alerts""".stripMargin,
        "alerts"),
    "rate_pattern" -> (
      """|@info(name = 'alerts')
        |from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase']
        |  within 120 min
        |select e1.user_id as user_id, e1.event_id as start_id,
        |  e2.event_id as next_id
        |output first every 4 events
        |order by start_id, next_id
        |insert into alerts""".stripMargin,
        "alerts"),
    "join_inner" -> (
      """|@info(name = 'pairs')
        |from events as a[event_type == 'error']#window.time(10 min)
        |  join events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin,
        "pairs"),
    "join_outer" -> (
      """|@info(name = 'pairs')
        |from events as a[event_type == 'error']#window.time(2 min)
        |  left outer join
        |  events as b[event_type == 'purchase']#window.time(2 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin,
        "pairs"),
    "join_full" -> (
      """|@info(name = 'pairs')
        |from events as a[event_type == 'error']#window.time(2 min)
        |  full outer join
        |  events as b[event_type == 'purchase']#window.time(2 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin,
        "pairs"),
    "join_timebatch" -> (
      """|@info(name = 'pairs')
        |from events as a[event_type == 'error']#window.timeBatch(10 min)
        |  join events as b[event_type == 'purchase']#window.timeBatch(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin,
        "pairs"),
    "join_agg" -> (
      """|@info(name = 'agg')
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
        |insert into Out""".stripMargin,
        "agg"),
    "join_chained_agg" -> (
      """|@info(name = 'pairs')
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
        |insert into Out""".stripMargin,
        "agg"),
    "rate_join" -> (
      """|@info(name = 'paced')
        |from events as a#window.time(10 min)
        |  join events as b#window.time(10 min)
        |  on a.user_id == b.user_id and a.event_type == 'error'
        |     and b.event_type == 'purchase'
        |select a.event_id as err_id, b.event_id as buy_id,
        |  a.user_id as user_id
        |output last every 10 min
        |order by err_id, buy_id
        |insert into Out""".stripMargin,
        "paced"),
    "enrich" -> (
      """|define stream events (event_id long, ts_ns long, user_id long,
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
        |insert into Out""".stripMargin,
        "enrich"),
    "partition" -> (
      """|partition with (user_id of events)
        |begin
        |  @info(name = 'perUser')
        |  from events#window.timeBatch(1 min)
        |  select user_id, count() as n, math:round(sum(value), 2) as sv
        |  order by w_start_ms, user_id
        |  insert into Out;
        |end""".stripMargin,
        "perUser"),
    "partition_dml" -> (
      """|define stream events (event_id long, ts_ns long, user_id long,
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
        |insert into Out""".stripMargin,
        "read"),
    "onerror" -> (
      """|@OnError(action='STREAM')
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
        |insert into Faults""".stripMargin,
        "faults")
  )

  /** `from events#window.<w> select … insert into Out` as app `q`. */
  private def single(w: String, sel: String): String =
    s"@info(name = 'q')\nfrom events#window.$w\n$sel\ninsert into Out"

  /** An error ⋈ purchase windowed self-join as app `q`; `mark` is
    * `unidirectional` or empty, `how` the join keyword(s). */
  private def joined(lw: String, rw: String, mark: String = "",
      how: String = "join"): String =
    s"""@info(name = 'q')
       |from events as a[event_type == 'error']#window.$lw $mark
       |  $how events as b[event_type == 'purchase']#window.$rw
       |  on a.user_id == b.user_id
       |select a.event_id as err_id, b.event_id as buy_id
       |order by err_id, buy_id
       |insert into Out""".stripMargin

  private val agg = "select user_id, count() as n, " +
    "math:round(sum(value), 2) as total group by user_id"
  private val proj = "select event_id, user_id, value order by event_id"
  private val batchApps: Seq[(String, String)] = Seq(
    "timebatch" -> single("timeBatch(10 min)", agg),
    "timebatch_aligned" -> single("timeBatch(10 min, 3 min)", agg),
    "lengthbatch" -> single("lengthBatch(50)",
      "select count() as n, math:round(sum(value), 2) as total"),
    "session" -> single("session(2 min)", agg),
    "length_global" -> single("length(20)",
      "select event_id, math:round(sum(value), 2) as total " +
        "order by event_id"),
    "length_grouped" -> single("length(20)",
      "select event_id, user_id, math:round(sum(value), 2) as total " +
        "group by user_id order by event_id"),
    "time_global" -> single("time(5 min)",
      "select event_id, count() as n order by event_id"),
    "time_grouped" -> single("time(5 min)",
      "select event_id, user_id, count() as n group by user_id " +
        "order by event_id"),
    "external_time" -> single("externalTime(ts_ns, 5 min)",
      "select event_id, count() as n order by event_id"),
    "external_timebatch" -> single("externalTimeBatch(ts_ns, 10 min)",
      "select count() as n"),
    "sort" -> single("sort(40, user_id, 'asc', value, 'desc')", proj),
    "unique_first" -> single("unique:first(user_id, event_type)", proj),
    "unique_last" -> single("unique:last(user_id)", proj),
    "unique_ever" -> single("unique:ever(user_id)", proj),
    "frequent" -> single("frequent(5, user_id)",
      "select user_id, count() as n group by user_id"),
    "delay" -> single("delay(90 sec)", "select min(ts_ns) as lo"),
    "cron" -> single("cron('0 0/15 * * * ?')", "select count() as n"),
    "timelength_global" -> single("timeLength(2 min, 10)",
      "select event_id, count() as n order by event_id"),
    "timelength_grouped" -> single("timeLength(2 min, 10)",
      "select event_id, count() as occ group by user_id " +
        "order by event_id"),
    "expression" -> single("expression('sum(value) < 500')",
      "select event_id, count() as n group by user_id " +
        "order by event_id"),
    "join_time" -> joined("time(10 min)", "time(5 min)"),
    "join_time_unidirectional" ->
      joined("time(10 min)", "time(5 min)", "unidirectional"),
    "join_time_outer" ->
      joined("time(10 min)", "time(5 min)", how = "left outer join"),
    "join_length" -> joined("length(50)", "length(80)"),
    "join_length_unidirectional" ->
      joined("length(50)", "length(80)", "unidirectional"),
    "join_length_outer" ->
      joined("length(50)", "length(80)", how = "full outer join"),
    "join_mixed" -> joined("time(10 min)", "length(80)"),
    "join_mixed_length_left" -> joined("length(50)", "timeBatch(10 min)"),
    "join_timebatch" -> joined("timeBatch(10 min)", "timeBatch(10 min)"),
    "join_timebatch_time" -> joined("timeBatch(10 min)", "time(5 min)"),
    "join_lengthbatch" -> joined("time(10 min)", "lengthBatch(40)"),
    "join_lengthbatch_both" -> joined("lengthBatch(30)", "lengthBatch(40)"),
    "join_lengthbatch_unidirectional" ->
      joined("lengthBatch(30)", "length(80)", "unidirectional"),
    "join_lengthbatch_outer" ->
      joined("lengthBatch(30)", "time(5 min)", how = "right outer join")
  )

  // expression ids and lambda instances differ from run to run
  private def norm(s: String): String = s.replaceAll("#\\d+L?", "#")
    .replaceAll("[\\w.$]+\\$\\$Lambda[^,\\s]*", "<fn>")
  private def plan(df: DataFrame): String =
    norm(df.queryExecution.optimizedPlan.toString)
  private def tried(what: String)(body: => String): String =
    Try(body).fold(e => s"$what FAILED ${e.getClass.getSimpleName}: " +
      norm(String.valueOf(e.getMessage)).linesIterator.take(3)
        .mkString(" | ") + "\n", identity)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder.master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    val ev = graft.engine.Tables.events(spark, args(0))
    def empty(schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[
        org.apache.spark.sql.Row], schema)
    for ((label, (app, out)) <- apps) {
      val text = tried("DEPLOY") {
        val (_, stage) = SiddhiQL.deployStages(ev, app, out)
        stage match {
          case SiddhiQL.Streamed(df, mode, carried) =>
            s"Streamed mode=$mode carried=${carried.mkString(",")}\n" +
              plan(df)
          case SiddhiQL.Folded(outSchema, build) =>
            val lf = build()
            val states = lf.schemas.map { case (n, sch, m) =>
              val mode = m match {
                case k: SiddhiQL.KeyedState =>
                  s"KeyedState(${k.keys.mkString(",")}, " +
                    s"compactEvery=${k.compactEvery})"
                case other => other.toString
              }
              s"state $n $mode ${sch.simpleString}\n" +
                (m match {
                  case k: SiddhiQL.KeyedState => tried(s"KEYS $n")(
                    s"KEYS $n\n" + plan(k.batchKeys(spark, "", lf.feed)))
                  case _ => ""
                })
            }
            val emptySt = lf.schemas.map { case (n, sch, _) =>
              val e = empty(sch)
              n -> SiddhiQL.LiveState(e, () => e)
            }.toMap
            s"Folded out=${outSchema.simpleString} " +
              s"needsFlush=${lf.needsFlush}\nFEED\n" + plan(lf.feed) +
              states.mkString +
              tried("FOLD")(lf.fold(spark, "", emptySt, lf.feed).toSeq
                .sortBy(_._1).map { case (n, df) =>
                  s"FOLD $n\n" + plan(df) }.mkString) +
              tried("FINISH")("FINISH\n" + plan(lf.finish(spark,
                emptySt.map { case (n, s) => n -> s.slice })))
        }
      }
      println(s"PLAN[$label]\n$text" + "ENDPLAN")
    }
    for ((label, app) <- batchApps) {
      val text = tried("COMPILE") {
        val df = SiddhiQL.compileApp(spark, args(0), app)("q")
        val exchanges = df.queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("Exchange"))
        plan(df) + s"EXCHANGES $exchanges\n"
      }
      println(s"BATCH[$label]\n$text" + "ENDPLAN")
    }
    spark.stop()
  }
}
