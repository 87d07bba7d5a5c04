package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.SiddhiQL

/** SiddhiQL front-end: the compiled DataFrame must equal the directly
  * built one, and malformed queries must fail fast with messages that
  * name the problem (a string front-end that silently mis-compiles is
  * worse than none). The six `sql_*` oracle-gate queries cover the
  * window/pattern matrix; this spec covers equivalence + diagnostics. */
class SiddhiQlSpec extends AnyFunSuite {
  import TestSpark._

  private def compile(q: String) = SiddhiQL.compile(spark, sf, q)

  test("str:split splits LITERALLY (regex metachars quoted); " +
       "time:dateDiff floors negative spans") {
    val r = compile("from events[event_id < 3] select event_id, " +
      "str:split('a.b.c', '.', 1) as piece, " +
      "time:dateDiff(0, 43200000) as dneg, " +
      "time:dateDiff(86400000, 0) as dpos order by event_id").collect()
    assert(r.nonEmpty)
    // regex split on '.' would shatter into empty strings; literal
    // split yields the middle piece
    assert(r.forall(_.getString(1) == "b"))
    // -12h is floor'ed to -1 day (DuckDB `//` parity), not truncated
    // to 0; +1 day stays 1
    assert(r.forall(_.getLong(2) == -1L))
    assert(r.forall(_.getLong(3) == 1L))
  }

  test("filter+projection compiles to the same result as the direct API") {
    val viaSql = compile(
      """from events[value > 140 and event_type == 'view']
        |select event_id, value / 2 as half
        |order by event_id""".stripMargin).collect().toSeq
    val direct = engine.Tables.events(spark, sf)
      .where(col("value") > 140 && col("event_type") === "view")
      .select(col("event_id"), (col("value") / 2).as("half"))
      .orderBy("event_id").collect().toSeq
    assert(viaSql == direct)
    assert(viaSql.nonEmpty)
  }

  test("generic tables work: filter over lineitem") {
    val viaSql = compile(
      """from lineitem[l_quantity >= 49]
        |select l_orderkey, l_quantity
        |order by l_orderkey, l_quantity desc limit 5""".stripMargin)
      .collect().toSeq
    val direct = engine.Tables.lineitem(spark, sf)
      .where(col("l_quantity") >= 49)
      .select("l_orderkey", "l_quantity")
      .orderBy(col("l_orderkey").asc, col("l_quantity").desc)
      .limit(5).collect().toSeq
    assert(viaSql == direct)
  }

  test("global aggregation without window or group by") {
    val r = compile(
      "from events select count() as n, distinctCount(user_id) as u")
      .collect()
    val d = engine.Tables.events(spark, sf)
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("u"))
      .collect()
    assert(r.toSeq == d.toSeq)
  }

  test("sliding window attaches the frame at the aggregate call") {
    // round(sum(x), 2) must become round(sum(x) OVER w, 2)
    val df = compile(
      """from events#window.length(5)
        |select event_id, math:round(sum(value), 2) as s5
        |group by user_id order by event_id limit 3""".stripMargin)
    assert(df.columns.toSeq == Seq("event_id", "s5"))
    assert(df.collect().length == 3)
  }

  test("time(T) sliding window, uppercase keywords, convert()") {
    // keywords are case-insensitive; time window = RANGE frame on ts_ns
    val viaSql = compile(
      """FROM events#window.time(10 min)
        |SELECT event_id, convert(user_id, 'string') as uid,
        |  math:round(sum(value), 2) AS s10m
        |GROUP BY user_id ORDER BY event_id LIMIT 50""".stripMargin)
      .collect().toSeq
    val direct = engine.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id").cast("string").as("uid"),
        expr("round(sum(value) over (partition by user_id order by ts_ns" +
          " range between 600000000000 preceding and current row), 2)")
          .as("s10m"))
      .orderBy("event_id").limit(50).collect().toSeq
    assert(viaSql == direct)
    assert(viaSql.nonEmpty)
  }

  test("limit + offset skip then cap the ordered output") {
    val viaSql = compile(
      "from events select event_id order by event_id limit 5 offset 10")
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == Seq(10L, 11L, 12L, 13L, 14L))
  }

  test("diagnostics name the problem") {
    def msg(q: String): String =
      intercept[IllegalArgumentException](compile(q)).getMessage
    assert(msg("from events#window.hopping(3) select count() as n")
      .contains("unsupported window 'hopping'"))
    assert(msg("from events select str:rot13(event_type) as r")
      .contains("unsupported function str:rot13"))
    assert(msg("from events#window.timeBatch(1 min) select value, " +
      "count() as n").contains("must be a group by column"))
    assert(msg("from events select event_id extra_token")
      .contains("trailing input"))
    assert(msg("from every e1=events[value > 0] -> e2=events[value > 0] " +
      "select e3.value as v").contains("unknown binding 'e3'"))
    assert(msg("from events select event_id having event_id > 1")
      .contains("having needs an aggregation"))
    // the fallbacks name what each surface supports: batch join sides
    // (timeBatch and lengthBatch included) and the live windows
    assert(msg("from events as a#window.session(2 min) join events as " +
      "b#window.time(1 min) on a.user_id == b.user_id " +
      "select a.event_id as x")
      .contains("length(N), timeBatch(T) or lengthBatch(N) on BOTH sides"))
    val live = intercept[IllegalArgumentException](SiddhiQL.deployApp(
      spark, sf, "@info(name='q') from events#window.time(1 min) " +
        "select event_id, count() as n group by user_id insert into O",
      "q")).getMessage
    assert(live.contains("deploys the windows timeBatch, cron, session") &&
      live.contains("'#window.time' is a batch-replay window"), live)
  }

  test("window-argument refusals fail at compile and deploy, by name") {
    // (window, select tail, expected message, deploys live); the
    // refusals run in the parser or in the window's lowering, so
    // both surfaces fail before any job runs
    val cases = Seq(
      ("sort(user_id)", "select event_id", "sort needs a count argument",
        true),
      ("frequent(5)", "select user_id, count() as n group by user_id",
        "frequent needs an attribute argument", true),
      ("cron()", "select count() as n",
        "cron needs a quoted Quartz expression argument", true),
      ("expression()", "select event_id, count() as n group by user_id",
        "expression needs a quoted retention expression argument", true),
      ("unique:first()", "select event_id",
        "unique:first needs an attribute argument", true),
      ("sort(5, nosuch)", "select event_id",
        "sort key 'nosuch' is not a column", true),
      ("unique:first(nosuch)", "select event_id",
        "unique:first key 'nosuch' is not a column", true),
      ("unique:last(nosuch)", "select event_id",
        "unique:last key 'nosuch' is not a column", true),
      ("hopping(3)", "select count() as n", "unsupported window 'hopping'",
        true),
      // a zero count or duration keeps nothing or divides by zero
      ("timeBatch(0 sec)", "select count() as n",
        "#window.timeBatch needs a positive period", true),
      ("length(0)", "select event_id, count() as n group by user_id",
        "#window.length needs a positive count", true),
      ("sort(0, value)", "select event_id",
        "#window.sort needs a positive count", true),
      ("frequent(0, user_id)", "select user_id, count() as n " +
        "group by user_id", "#window.frequent needs a positive count", true),
      ("timeLength(1 min, 0)", "select event_id, count() as n " +
        "group by user_id", "#window.timeLength needs a positive count",
        true),
      ("session(0 sec)", "select user_id, count() as n group by user_id",
        "#window.session needs a positive gap", true),
      ("delay(0 sec)", "select event_id",
        "#window.delay needs a positive duration", true),
      ("lengthBatch(0)", "select count() as n",
        "#window.lengthBatch needs a positive count", false),
      ("time(0 sec)", "select event_id, count() as n group by user_id",
        "#window.time needs a positive duration", false))
    cases.foreach { case (w, sel, want, live) =>
      val q = s"from events#window.$w $sel insert into O"
      val m = intercept[IllegalArgumentException](compile(q)).getMessage
      assert(m.contains(want), s"compile $w: $m")
      if (live) {
        val ml = intercept[IllegalArgumentException](SiddhiQL.deployApp(
          spark, sf, s"@info(name='q') $q", "q")).getMessage
        assert(ml.contains(want), s"deploy $w: $ml")
      }
    }
    // a live length-window join side needs the global arrival rank
    val mj = intercept[IllegalArgumentException](SiddhiQL.deployApp(
      spark, sf, "@info(name='q') from events as a#window.length(5) " +
        "join events as b#window.length(5) on a.user_id == b.user_id " +
        "select a.event_id as x insert into O", "q")).getMessage
    assert(mj.contains("live deployment joins need #window.time(T)"), mj)
    // a live buffered window over a stream that dropped an event
    // column names the stream and the column
    val mv = intercept[IllegalArgumentException](SiddhiQL.deployApp(
      spark, sf,
      """@info(name='p') from events
        |select event_id, ts_ns, user_id, event_type insert into P;
        |@info(name='q') from P#window.timeLength(1 min, 5)
        |select event_id, count() as n group by user_id
        |insert into O""".stripMargin, "q")).getMessage
    assert(mv.contains("'P' lacks 'value'"), mv)
  }

  test("join clause: left outer join keeps unmatched left rows") {
    val viaSql = compile(
      """from nation as n left outer join customer as c
        |  on n.n_nationkey == c.c_nationkey
        |select n_name, count() as n
        |group by n_name order by n_name""".stripMargin).collect().toSeq
    val direct = engine.Tables.nation(spark, sf).alias("n")
      .join(engine.Tables.customer(spark, sf).alias("c"),
        expr("n.n_nationkey = c.c_nationkey"), "left_outer")
      .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      .orderBy("n_name").collect().toSeq
    assert(viaSql == direct)
    // left outer: every nation appears even with zero customers
    assert(viaSql.length ==
      engine.Tables.nation(spark, sf).count().toInt)
  }

  test("absence pattern and join diagnostics") {
    def msg(q: String): String =
      intercept[IllegalArgumentException](compile(q)).getMessage
    assert(msg("from not events[value > 0] for 5 min " +
      "select e1.user_id as u").contains("cannot start with an absence"))
    // a one-sided non-time join window is outside the supported
    // stream-stream form and names the bound
    assert(msg("from events#window.length(5) join nation as n " +
      "on user_id == n_nationkey select count() as n")
      .contains("BOTH sides"))
  }

  test("compileApp: chained queries optimize as ONE Catalyst tree — " +
       "stage-1's filter reaches the parquet scan of stage 2's plan") {
    val app = SiddhiQL.compileApp(spark, sf,
      """@info(name = 'hot')
        |from events[value > 100]
        |select event_id, ts_ns, user_id, value
        |insert into Hot;
        |
        |@info(name = 'agg')
        |from Hot
        |select user_id, count() as n
        |group by user_id order by user_id
        |insert into Out""".stripMargin)
    assert(app.keySet == Set("hot", "agg"))
    val plan = app("agg").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("value"),
      s"stage-1 filter did not reach the scan:\n$plan")
    val direct = engine.Tables.events(spark, sf)
      .where(col("value") > 100)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect().toSeq
    assert(app("agg").collect().toSeq == direct)
  }

  test("pattern count quantifier <m:n> ≡ Patterns DSL times(m, n)") {
    import spark.implicits._
    val viaSql = compile(
      """from every e1=events[event_type == 'click']<2:2>
        |  -> e2=events[event_type == 'purchase']
        |select e1.event_id as first_click, e2.event_id as purchase_id
        |order by first_click, purchase_id""".stripMargin)
      .collect().toSeq
    val viaDsl = graft.api.Patterns
      .begin("e1")((e, _) => e.eventType == "click").times(2, 2)
      .followedBy("e2")((e, _) => e.eventType == "purchase")
      .select[(Long, Long)](spark, sf) { b =>
        (b("e1").head.eventId, b("e2").head.eventId)
      }.toDF("first_click", "purchase_id")
      .orderBy("first_click", "purchase_id").collect().toSeq
    assert(viaSql == viaDsl)
    assert(viaSql.nonEmpty)
  }

  test("pattern clause ≡ Patterns DSL over the same condition") {
    import scala.concurrent.duration._
    import spark.implicits._
    val viaSql = compile(
      """from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase'] within 5 min
        |select e1.event_id as start_id, e2.event_id as next_id
        |order by start_id""".stripMargin).collect().toSeq
    val viaDsl = graft.api.Patterns
      .begin("e1")((e, _) => e.eventType == "error")
      .followedBy("e2")((e, _) => e.eventType == "purchase")
      .within(5.minutes)
      .select[(Long, Long)](spark, sf) { b =>
        (b("e1").head.eventId, b("e2").head.eventId)
      }.toDF("start_id", "next_id").orderBy("start_id").collect().toSeq
    assert(viaSql == viaDsl)
    assert(viaSql.nonEmpty)
  }

  test("table DML: upsert replay ≡ direct last-event-per-key MERGE") {
    val viaSql = SiddhiQL.compileApp(spark, sf,
      """define table T (user_id long, last_value double);
        |from events[value > 100.0]
        |select user_id, value as last_value
        |update or insert into T on T.user_id == user_id;
        |@info(name = 'read')
        |from T select user_id, last_value order by user_id
        |insert into Out""".stripMargin)("read").collect().toSeq
    val direct = engine.Tables.events(spark, sf)
      .where(col("value") > 100.0)
      .groupBy("user_id")
      .agg(max_by(col("value"),
        struct(col("ts_ns"), col("event_id"))).as("last_value"))
      .orderBy("user_id").collect().toSeq
    assert(viaSql == direct)
    assert(viaSql.nonEmpty)
  }

  test("table DML: single-event key inserts the row, later events " +
       "apply the set clause (replay order, not set-everywhere)") {
    // a key whose ONLY matching event inserts must keep its inserted
    // value — the set expression applies to UPDATES only
    val out = SiddhiQL.compileApp(spark, sf,
      """define table T (user_id long, v double);
        |from events
        |select user_id, value as v
        |update or insert into T set T.v = v + 1000.0
        |on T.user_id == user_id;
        |@info(name = 'read')
        |from T select user_id, v order by user_id
        |insert into Out""".stripMargin)("read")
    import spark.implicits._
    val got = out.as[(Long, Double)].collect().toMap
    val ev = engine.Tables.events(spark, sf)
      .select(col("user_id"), col("value"), col("ts_ns"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getLong(2), r.getLong(3)))
    val byUser = ev.groupBy(_._1)
    byUser.foreach { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._3, e._4))
      val expect =
        if (sorted.length == 1) sorted.head._2          // insert only
        else sorted.last._2 + 1000.0                    // last update wins
      assert(got(u) == expect, s"user $u")
    }
  }

  test("output rate limiting: first-per-interval ≡ direct row_number") {
    val viaSql = compile(
      """from events[value > 100.0]
        |select event_id, user_id
        |output first every 2 min
        |order by event_id""".stripMargin).collect().toSeq
    val direct = engine.Tables.events(spark, sf)
      .where(col("value") > 100.0)
      .withColumn("rn", expr("row_number() over (partition by " +
        "ts_ns div 120000000000 order by ts_ns, event_id)"))
      .where(col("rn") === 1)
      .select("event_id", "user_id")
      .orderBy("event_id").collect().toSeq
    assert(viaSql == direct)
    assert(viaSql.nonEmpty)
  }

  test("output rate limiting: count-based last-of-chunk and all-mode") {
    // last of every 5 events in global arrival order
    val lastOf5 = compile(
      """from events
        |select event_id
        |output last every 5 events
        |order by event_id""".stripMargin).collect().map(_.getLong(0))
    val ordered = engine.Tables.events(spark, sf)
      .orderBy("ts_ns", "event_id").select("event_id")
      .collect().map(_.getLong(0))
    val expect = ordered.grouped(5).map(_.last).toArray.sorted
    assert(lastOf5.toSeq == expect.toSeq)
    // `output all` under batch replay is the identity
    val all = compile(
      """from events
        |select event_id
        |output all every 1 min
        |order by event_id""".stripMargin).count()
    assert(all == engine.Tables.events(spark, sf).count())
  }

  test("output rate limiting diagnostics") {
    def msg(q: String): String =
      intercept[IllegalArgumentException](compile(q)).getMessage
    assert(msg("from events select count() as n output first every 1 min")
      .contains("needs a batch window"))
    assert(msg("from events select event_id output snapshot every 3 events")
      .contains("snapshot is time-based"))
    assert(msg("from events select event_id output sometimes every 1 min")
      .contains("first|last|all|snapshot"))
    // a sliding window has no flush emissions to rate-limit
    assert(msg("from events#window.length(5) select event_id " +
      "output first every 1 min").contains("timeBatch"))
  }

  test("define aggregation: avg finalizes as rolled-up sum/count and " +
       "day grain ≡ direct day aggregation") {
    val app =
      """define aggregation A
        |from events
        |select user_id, avg(value) as avg_v, count() as cnt
        |group by user_id
        |aggregate by ts_ns every sec ... day;
        |@info(name = 'read')
        |from A
        |within 1704153600000, 1704240000000
        |per 'days'
        |select user_id, avg_v, cnt
        |order by bucket_start_ms, user_id
        |insert into Out""".stripMargin
    val got = SiddhiQL.compileApp(spark, sf, app)("read").collect()
    val direct = engine.Tables.events(spark, sf)
      .where(col("ts_ns") >= 1704153600000L * 1000000L &&
        col("ts_ns") < 1704240000000L * 1000000L)
      .groupBy(expr("ts_ns div 86400000000000 * 86400000")
        .as("bucket_start_ms"), col("user_id"))
      .agg(avg("value").as("avg_v"), count(lit(1)).as("cnt"))
      .orderBy("bucket_start_ms", "user_id").collect()
    assert(got.length == direct.length && got.nonEmpty)
    got.zip(direct).foreach { case (g, d) =>
      assert(g.getLong(0) == d.getLong(0) && g.getLong(1) == d.getLong(1))
      // cascade avg = sum-of-partial-sums / sum-of-partial-counts: equal
      // to the direct avg up to summation order
      assert(math.abs(g.getDouble(2) - d.getDouble(2)) < 1e-9)
      assert(g.getLong(3) == d.getLong(3))
    }
    // avg's and stdDev's partials sit under their own prefixes, so an
    // alias that is another alias plus a component suffix (`sdn`) can
    // not collide with them, in batch or in the live merge
    val app2 = app.replace("avg(value) as avg_v, count() as cnt",
        "avg(value) as v, stdDev(value) as sd, count() as vn, " +
          "count() as sdn")
      .replace("select user_id, avg_v, cnt", "select user_id, v, sdn")
    val batch2 = SiddhiQL.compileApp(spark, sf, app2)("read").collect()
    val live2 = SiddhiQL.deployApp(spark, sf, app2, "read", chunks = 2)
      .collect()
    def keyed(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(3))
    assert(batch2.map(_.getLong(3)).toSeq == direct.map(_.getLong(3)).toSeq)
    assert(live2.map(keyed).toSeq == batch2.map(keyed).toSeq)
  }

  test("indexed pattern select: e1[0]/e1[last] extract distinct events " +
       "of a quantified binding, matching the DSL's vector access") {
    val viaSql = compile(
      """from every e1=events[event_type == 'click']<2:2>
        |  -> e2=events[event_type == 'purchase']
        |select e1[0].event_id as c1, e1[last].event_id as c2,
        |  e2.event_id as buy
        |order by c1, buy""".stripMargin).collect().toSeq
    import spark.implicits._
    val viaDsl = graft.api.Patterns
      .begin("e1")((e, _) => e.eventType == "click").times(2, 2)
      .followedBy("e2")((e, _) => e.eventType == "purchase")
      .select[(Long, Long, Long)](spark, sf) { b =>
        (b("e1").head.eventId, b("e1").last.eventId, b("e2").head.eventId)
      }.toDF("c1", "c2", "buy").orderBy("c1", "buy").collect().toSeq
    assert(viaSql == viaDsl)
    assert(viaSql.nonEmpty)
    // the two indexed positions differ on a 2-event binding
    assert(viaSql.exists(r => r.getLong(0) != r.getLong(1)))
  }

  test("logical and-pair ≡ DSL both(); pair-at-head and bad coalesce " +
       "diagnostics") {
    import spark.implicits._
    val viaSql = compile(
      """from every e1=events[event_type == 'error']
        |  -> e2=events[event_type == 'purchase']
        |     and e3=events[event_type == 'signup']
        |select e1.event_id as start_id, e2.event_id as p_id,
        |  e3.event_id as s_id
        |order by start_id, p_id""".stripMargin).collect().toSeq
    val viaDsl = graft.api.Patterns
      .begin("e1")((e, _) => e.eventType == "error")
      .both("e2")((e, _) => e.eventType == "purchase")(
        "e3")((e, _) => e.eventType == "signup")
      .select[(Long, Long, Long)](spark, sf) { b =>
        (b("e1").head.eventId, b("e2").head.eventId, b("e3").head.eventId)
      }.toDF("start_id", "p_id", "s_id")
      .orderBy("start_id", "p_id").collect().toSeq
    assert(viaSql == viaDsl)
    assert(viaSql.nonEmpty)
    def msg(q: String): String =
      intercept[IllegalArgumentException](compile(q)).getMessage
    assert(msg("from every e1=events[value > 0] or e2=events[value < 0] " +
      "-> e3=events[value > 9] select e1.event_id as a")
      .contains("starts from the second step"))
    assert(msg("from every e1=events[value > 0] -> e2=events[value > 0] " +
      "select coalesce(1, 2) as x")
      .contains("binding.field"))
  }

  test("sort window asc keeps the N smallest; externalTime(ts_ns) ≡ " +
       "time window; math:log with epsilon") {
    val bottom3 = compile(
      """from events#window.sort(3, value)
        |select math:round(min(value), 2) as lo,
        |  math:round(max(value), 2) as hi, count() as n""".stripMargin)
      .collect()(0)
    val direct = engine.Tables.events(spark, sf)
      .orderBy(col("value").asc, col("ts_ns").asc, col("event_id").asc)
      .limit(3).agg(round(min("value"), 2), round(max("value"), 2),
        count(lit(1))).collect()(0)
    assert(bottom3 == direct && bottom3.getLong(2) == 3L)
    val viaExt = compile(
      """from events#window.externalTime(ts_ns, 10 min)
        |select event_id, math:round(sum(value), 2) as s
        |group by user_id order by event_id limit 50""".stripMargin)
      .collect().toSeq
    val viaTime = compile(
      """from events#window.time(10 min)
        |select event_id, math:round(sum(value), 2) as s
        |group by user_id order by event_id limit 50""".stripMargin)
      .collect().toSeq
    assert(viaExt == viaTime && viaExt.nonEmpty)
    val lg = compile(
      "from events[event_id == 0] select math:log(value + 1.0) as lg")
      .collect()(0).getDouble(0)
    val want = engine.Tables.events(spark, sf)
      .where(col("event_id") === 0)
      .select(log(col("value") + 1.0)).collect()(0).getDouble(0)
    assert(math.abs(lg - want) < 1e-12)
  }

  test("a realistic annotated app compiles verbatim: @app:name, " +
       "@source/@sink transport config (incl. nested @map) are " +
       "tolerated as deployment concerns") {
    val app =
      """@app:name('Alert-Processor');
        |@app:description('errors above threshold per minute');
        |
        |@source(type = 'kafka', topic = 'events',
        |  @map(type = 'json', @attributes(id = '$.id')))
        |define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |
        |@sink(type = 'log', prefix = 'ALERT')
        |@info(name = 'alerts')
        |from events[event_type == 'error' and value > 150]
        |select user_id, count() as n
        |group by user_id
        |order by user_id
        |insert into AlertStream""".stripMargin
    val got = SiddhiQL.compileApp(spark, sf, app)("alerts").collect().toSeq
    val direct = engine.Tables.events(spark, sf)
      .where(col("event_type") === "error" && col("value") > 150)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect().toSeq
    assert(got == direct && got.nonEmpty)
  }

  test("named window: two readers share one definition consistently") {
    val app =
      """define window W (event_id long, ts_ns long, user_id long,
        |  event_type string, value double) timeBatch(10 min);
        |@info(name = 'feed')
        |from events[event_type == 'click']
        |select event_id, ts_ns, user_id, event_type, value
        |insert into W;
        |@info(name = 'global')
        |from W select count() as n order by w_start_ms insert into A;
        |@info(name = 'perUser')
        |from W select user_id, count() as n group by user_id
        |order by w_start_ms, user_id insert into B""".stripMargin
    val rs = SiddhiQL.compileApp(spark, sf, app)
    val globalTotal = rs("global").agg(sum("n")).collect()(0).getLong(0)
    val perUserTotal = rs("perUser").agg(sum("n")).collect()(0).getLong(0)
    val direct = engine.Tables.events(spark, sf)
      .where(col("event_type") === "click").count()
    assert(globalTotal == direct && perUserTotal == direct)
    // reading an unfed window names the problem
    assert(intercept[IllegalArgumentException](SiddhiQL.compileApp(spark,
      sf, """define window W (a long) timeBatch(1 min);
        |from W select count() as n insert into O""".stripMargin))
      .getMessage.contains("has not been fed"))
  }

  test("unique:last window ≡ direct keep-last dedup; frequent window " +
       "retains exact top-N keys") {
    val viaSql = compile(
      """from events#window.unique:last(user_id)
        |select event_id, user_id order by event_id""".stripMargin)
      .collect().toSeq
    val direct = engine.Tables.events(spark, sf)
      .withColumn("rn", expr("row_number() over (partition by user_id " +
        "order by ts_ns desc, event_id desc)"))
      .where(col("rn") === 1).select("event_id", "user_id")
      .orderBy("event_id").collect().toSeq
    assert(viaSql == direct && viaSql.nonEmpty)
    val freq = compile(
      """from events#window.frequent(2, event_type)
        |select distinctCount(event_type) as k""".stripMargin)
      .collect()(0).getLong(0)
    assert(freq == 2L)
  }

  test("partition with: inner sliding window partitions by the key " +
       "even without an explicit group by") {
    // inside the partition, #window.length(5) is per-user; outside it,
    // the same query would need `group by user_id` for that
    val viaPart = SiddhiQL.compileApp(spark, sf,
      """partition with (user_id of events)
        |begin
        |  @info(name = 'q')
        |  from events#window.length(5)
        |  select event_id, math:round(sum(value), 2) as s5
        |  order by event_id
        |  insert into Out;
        |end""".stripMargin)("q").collect().toSeq
    val viaGroup = compile(
      """from events#window.length(5)
        |select event_id, math:round(sum(value), 2) as s5
        |group by user_id
        |order by event_id""".stripMargin).collect().toSeq
    assert(viaPart == viaGroup)
    assert(viaPart.nonEmpty)
  }

  test("partition diagnostics") {
    // both surfaces share the partition front-end, so a malformed block
    // fails with the same message on each
    def appMsg(app: String): String = {
      val m = intercept[IllegalArgumentException](
        SiddhiQL.compileApp(spark, sf, app)).getMessage
      val live = intercept[IllegalArgumentException](
        SiddhiQL.deployApp(spark, sf, app, "O")).getMessage
      assert(live == m, s"deployApp: '$live' vs compileApp: '$m'")
      m
    }
    assert(appMsg("partition with (nope of events) begin " +
      "from events select count() as n insert into O; end")
      .contains("not a column"))
    assert(appMsg("partition with (user_id of events) begin " +
      "from nation select count() as n insert into O; end")
      .contains("read the partitioned stream"))
    assert(appMsg("partition with (user_id of events) begin " +
      "from events select count() as n insert into O")
      .contains("missing 'end'"))
  }

  test("partition-block DML hoists (r14): keyed windowed == explicit " +
       "top-level group-by; range windowed live names the multi-writer " +
       "windowed bound") {
    // per-key timeBatch instances over aligned buckets == ONE writer
    // grouped by the key — the hoist must equal the explicit form
    val inner =
      """@info(name='roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, sum(value) as total
        |update or insert into W on W.user_id == user_id;""".stripMargin
    val read =
      """@info(name='read') from W
        |select user_id, math:round(total, 2) as total
        |order by user_id insert into Out""".stripMargin
    val part = SiddhiQL.compileApp(spark, sf,
      "define table W (user_id long, total double);\n" +
        "partition with (user_id of events)\nbegin\n" + inner +
        "\nend;\n" + read)("read")
    val top = SiddhiQL.compileApp(spark, sf,
      "define table W (user_id long, total double);\n" +
        inner.replace("update or insert",
          "group by user_id\nupdate or insert") + "\n" + read)("read")
    assert(part.collect().toSeq == top.collect().toSeq)
    // range + windowed deployed LIVE (r14): the per-label split's two
    // windowed writers deploy through multiWindowedDmlFold — one
    // flush-partial state per writer, finish = the BATCH merge tail —
    // so live must equal the batch replay byte-for-byte
    val app =
      """define table W (user_id long, total double);
        |partition with (value >= 150.0 as 'high'
        |  or value >= 50.0 as 'mid' of events)
        |begin
        |@info(name='roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as total
        |group by user_id
        |update or insert into W on W.user_id == user_id;
        |end;
        |@info(name='read') from W select user_id, total
        |order by user_id insert into Out""".stripMargin
    val batch = SiddhiQL.compileApp(spark, sf, app)("read").collect().toSeq
    val live = SiddhiQL.deployApp(spark, sf,
      "define stream events (event_id long, ts_ns long, user_id long,\n" +
        "  event_type string, value double);\n" + app, "read")
      .collect().toSeq
    assert(live == batch)
  }

  test("r14 mixed/windowed multi-writer channels are " +
       "chunking-invariant (the fast-gate contract)") {
    // the three r14 live channels — all-windowed multi-writer store,
    // mixed store with a sweeper, mixed as-of read — must produce
    // identical results under any micro-batch split: their states
    // (flush partials, emission logs, latest-with-ord rows) never
    // reference batch boundaries. This is the contract that lets
    // Bench's fast-gate profile (2 chunks) stand in for the full
    // 4-chunk replay with zero correctness surface change.
    val hdr =
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table T (user_id long, v double);
        |""".stripMargin
    val peW =
      """@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, math:round(value, 2) as v
        |update or insert into T on T.user_id == user_id;
        |""".stripMargin
    val winW =
      """@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into T on T.user_id == user_id;
        |""".stripMargin
    val sweepW =
      """@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete T on T.user_id == user_id;
        |""".stripMargin
    val tableRead =
      """@info(name = 'read')
        |from T select user_id, v order by user_id insert into Out"""
        .stripMargin
    val joinRead =
      """@info(name = 'read')
        |from events as e[event_type == 'purchase'] join T
        |  on T.user_id == e.user_id
        |select e.event_id as event_id, T.v as v
        |order by event_id insert into Out""".stripMargin
    val apps = Seq(
      // all-windowed store (two first-match-filtered label writers)
      hdr + winW.replace("[event_type == 'click']",
        "[event_type == 'click' and value >= 150.0]") +
        winW.replace("'win'", "'win2'")
          .replace("[event_type == 'click']",
            "[event_type == 'click' and value < 150.0]") + tableRead,
      // mixed store with a sweeper
      hdr + peW + winW + sweepW + tableRead,
      // mixed as-of join read
      hdr + peW + winW + joinRead,
      // multi-windowed as-of join read (r15): two flush-partial
      // states, zero per-event states, same uRelOverride branch
      hdr + winW.replace("[event_type == 'click']",
        "[event_type == 'click' and value >= 150.0]") +
        winW.replace("'win'", "'win2'")
          .replace("timeBatch(10 min)", "timeBatch(7 min)")
          .replace("[event_type == 'click']",
            "[event_type == 'click' and value < 150.0]") + joinRead,
      // SHAPE-MIXED table (r15): implicit reset + accumulator fold
      // on one keyed table — mergeEmissions' upsert+fold arm, whose
      // per-trigger seed enters as a reset at ord −∞
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table ShpX (user_id long, cnt long);
        |@info(name = 'reset')
        |from events[event_type == 'view']
        |select user_id, event_id as cnt
        |update or insert into ShpX on ShpX.user_id == user_id;
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into ShpX
        |  set ShpX.cnt = ShpX.cnt + 1
        |  on ShpX.user_id == user_id;
        |@info(name = 'read')
        |from ShpX select user_id, cnt order by user_id
        |insert into Out""".stripMargin,
      // windowed SHAPE-MIX join read (r15): the scoped two-row
      // collapse must not depend on where trigger boundaries fall
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table SmX (user_id long, cnt long);
        |@info(name = 'rst')
        |from events[event_type == 'view']
        |select user_id, event_id as cnt
        |update or insert into SmX on SmX.user_id == user_id;
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into SmX
        |  set SmX.cnt = SmX.cnt + 1
        |  on SmX.user_id == user_id;
        |@info(name = 'wrst')
        |from events[event_type == 'error']#window.timeBatch(10 min)
        |select user_id, count() as cnt
        |group by user_id
        |update or insert into SmX on SmX.user_id == user_id;
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join SmX
        |  on SmX.user_id == e.user_id
        |select e.event_id as event_id, SmX.cnt as cnt
        |order by event_id insert into Out""".stripMargin,
      // windowed EVENT-LOG join read (r15): flush partials + tagged
      // emission logs re-assemble the same history per trigger
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table CartX (user_id long, item long, v double);
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into CartX;
        |@info(name = 'roll')
        |from events[event_type == 'view']#window.timeBatch(10 min)
        |select user_id, min(event_id) as item,
        |  math:round(sum(value), 2) as v
        |group by user_id
        |insert into CartX;
        |@info(name = 'sweep')
        |from events[event_type == 'error' and value > 170.0]
        |select user_id
        |delete CartX on CartX.user_id == user_id;
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join CartX
        |  on CartX.user_id == e.user_id
        |select e.event_id as event_id, CartX.item as item,
        |  CartX.v as v
        |order by event_id, item, v insert into Out""".stripMargin)
    apps.foreach { app =>
      val c4 = SiddhiQL.deployApp(spark, sf, app, "read")
        .collect().map(_.toSeq).toSeq
      val c1 = SiddhiQL.deployApp(spark, sf, app, "read", chunks = 1)
        .collect().map(_.toSeq).toSeq
      val c7 = SiddhiQL.deployApp(spark, sf, app, "read", chunks = 7)
        .collect().map(_.toSeq).toSeq
      assert(c4.nonEmpty, "channel returned zero rows")
      assert(c1 == c4 && c7 == c4,
        "chunking-variant (1/4/7-chunk replays differ)")
    }
  }

  test("define aggregation diagnostics") {
    def appMsg(app: String): String =
      intercept[IllegalArgumentException](
        SiddhiQL.compileApp(spark, sf, app)).getMessage
    val defn =
      """define aggregation A
        |from events
        |select sum(value) as t
        |aggregate by ts_ns every min ... hour;
        |""".stripMargin
    // per outside the defined grain range
    assert(appMsg(defn +
      "from A within 0, 1 per 'days' select t insert into O")
      .contains("outside the defined grain"))
    // missing within
    assert(appMsg(defn + "from A per 'hours' select t insert into O")
      .contains("needs `within"))
    // percentile joined the algebra in r11 as a mergeable APPROX
    // (quantized run-length histogram) — it needs its (value, p)
    // argument form; a truly unsupported aggregate stays diagnosed
    assert(appMsg(
      """define aggregation B from events
        |select percentile(value) as u
        |aggregate by ts_ns every min;
        |from B within 0, 1 per 'min' select u insert into O""".stripMargin)
      .contains("percentile takes (value, p)"))
    assert(appMsg(
      """define aggregation B from events
        |select groupConcat(value) as u
        |aggregate by ts_ns every min;
        |from B within 0, 1 per 'min' select u insert into O""".stripMargin)
      .contains("sum/count/min/max/avg/stdDev/distinctCount"))
    // within/per without an app-level definition
    assert(intercept[IllegalArgumentException](compile(
      "from Nope within 0, 1 per 'hours' select x"))
      .getMessage.contains("define aggregation"))
  }

  test("global sliding window with NO aggregate compiles as a plain " +
       "projection (no rank, no band join)") {
    // Siddhi emits one output per arrival either way, so the frame is
    // irrelevant without aggregates — the r10 refusal here was an
    // accepted-surface regression vs the r9 sliding path
    for (q <- Seq(
      "from events#window.time(5 min) select event_id, value as v " +
        "order by event_id",
      "from events#window.length(5) select event_id, value as v " +
        "order by event_id")) {
      val df = compile(q)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin") && !p.contains("HashJoin"),
        s"pass-through sliding select must not join: $q\n$p")
      assert(df.count() ==
        engine.Tables.events(spark, sf).count(), q)
    }
  }

  test("global-count shapes compile DISTRIBUTED: lengthBatch, sliding " +
       "frames, timeLength, and count rates ride the prefix-sum rank / " +
       "band join — no data-sized global-ordered window in any plan") {
    // each shape was an r9 guardGlobalWindow fail-fast; now the ranks
    // come from runningTotal (range partition + per-partition window +
    // P-row offset cumsum) and sliding frames from the band join, so no
    // windowspecdefinition ordered by raw ts_ns without a partition key
    // may remain (that was the single-task shape)
    for (q <- Seq(
      "from events#window.lengthBatch(100) select max(value) as mx " +
        "order by chunk_id",
      "from events#window.length(5) select event_id, sum(value) as s " +
        "order by event_id",
      "from events#window.time(2 min) select event_id, count() as n " +
        "order by event_id",
      "from events#window.timeLength(2 min, 5) select event_id, " +
        "count() as n order by event_id",
      "from events select event_id output first every 3 events",
      "from events select event_id output last every 3 events")) {
      val df = compile(q)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("windowspecdefinition(ts_ns"),
        s"global single-task window remains in: $q\n$p")
      assert(df.count() > 0)
    }
    // the sliding band join ≡ the partitioned window semantics: the
    // global length(5) frame recomputed naively per row
    val got = compile("from events#window.length(5) " +
      "select event_id, sum(value) as s order by event_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val evs = engine.Tables.events(spark, sf)
      .select("event_id", "ts_ns", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._2, t._1))
    val naive = evs.zipWithIndex.map { case ((id, _, _), i) =>
      id -> evs.slice(math.max(0, i - 4), i + 1).map(_._3).sum
    }.toMap
    assert(got.size == naive.size)
    naive.foreach { case (id, s) =>
      assert(math.abs(got(id) - s) < 1e-6, s"event $id: ${got(id)} vs $s")
    }
    // sharded twins still pass through the partitioned window path
    val sharded = SiddhiQL.compileApp(spark, sf,
      """partition with (user_id of events)
        |begin
        |  @info(name = 'q')
        |  from events#window.lengthBatch(10)
        |  select user_id, count() as n
        |  order by user_id, chunk_id
        |  insert into Out;
        |end""".stripMargin)("q")
    assert(sharded.count() > 0)
    assert(compile("from events#window.length(5) " +
      "select event_id, sum(value) as s group by user_id " +
      "order by event_id limit 3").count() == 3)
  }

  test("multi-writer fan-in: two inserts into one stream union; " +
       "schema disagreement is diagnosed") {
    val outs = SiddhiQL.compileApp(spark, sf,
      """@info(name = 'a') from events[value > 190]
        |select user_id, value insert into S;
        |@info(name = 'b') from events[value < 1]
        |select user_id, value insert into S;
        |@info(name = 'n') from S select count() as n
        |insert into Out""".stripMargin)
    val (a, b, n) = (outs("a").count(), outs("b").count(),
      outs("n").collect().head.getLong(0))
    assert(a > 0 && b > 0 && n == a + b) // reader sees BOTH writers
    val msg = intercept[IllegalArgumentException](SiddhiQL.compileApp(
      spark, sf,
      """from events select user_id insert into S;
        |from events select user_id, value insert into S""".stripMargin))
      .getMessage
    assert(msg.contains("disagree on its schema"))
  }

  test("delay/cron/timeLength windows: semantics + diagnostics") {
    // delay shifts event time: min delayed ts = min raw ts + 90 s
    val shifted = compile("from events#window.delay(90 sec) " +
      "select min(ts_ns) as lo").collect().head.getLong(0)
    val raw = engine.Tables.events(spark, sf)
      .agg(min("ts_ns")).collect().head.getLong(0)
    assert(shifted == raw + 90L * 1000000000L)
    // cron accepts only epoch-aligned fixed-interval forms
    assert(intercept[IllegalArgumentException](compile(
      "from events#window.cron('0 0/7 * * * ?') select count() as n"))
      .getMessage.contains("unsupported cron expression"))
    // timeLength buffer size is guarded
    assert(intercept[IllegalArgumentException](compile(
      "from events#window.timeLength(1 min, 100000) " +
        "select count() as n group by user_id"))
      .getMessage.contains("buffer"))
    // timeLength occupancy equals the engine twin's closed form
    val occ = compile(
      """from events#window.timeLength(2 min, 10)
        |select event_id, count() as occ group by user_id
        |order by event_id""".stripMargin).collect()
    val twin = engine.Extras.timeLength(spark, sf).collect()
    assert(occ.length == twin.length)
    occ.zip(twin).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(2))
    }
  }

  test("live deployment of a multi-writer app equals batch replay") {
    val writers =
      """@info(name = 'a') from events[value > 190]
        |select user_id, event_id, value insert into S;
        |@info(name = 'b') from events[event_type == 'error' and value < 5]
        |select user_id, event_id, value insert into S;
        |@info(name = 'c') from S[value >= 0.0]
        |select user_id, event_id, value insert into Out""".stripMargin
    val live = SiddhiQL.deployApp(spark, sf, writers, "c")
      .collect().map(_.toSeq).sortBy(_.toString)
    val batch = SiddhiQL.compileApp(spark, sf, writers)("c")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(live.nonEmpty && (live sameElements batch))
  }

  test("windowed stream-stream join: equi-sharded band plan, " +
    "diagnostics name the problem") {
    val df = compile(
      """from events as a#window.time(1 min)
        |  join events as b#window.time(1 min)
        |  on a.user_id == b.user_id and a.event_type == 'error'
        |select a.event_id as x, b.event_id as y
        |order by x, y""".stripMargin)
    // the equality key shards the band join: a real equi join (SMJ or
    // SHJ) with the time band as residual — never a nested loop
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"band join degenerated:\n$p")
    assert(df.count() > 0)
    // count-window join sides: arrival ranks come from the
    // DISTRIBUTED prefix sum (range partition + per-partition window
    // + P-row offset cumsum) — no data-sized global-ordered window
    // may remain in the plan (windowspecdefinition over ts_ns with no
    // partition key was the old single-task shape)
    val dfLen = compile(
      """from events as a#window.length(20)
        |  join events as b#window.length(30)
        |  on a.user_id == b.user_id and a.event_type == 'error'
        |     and b.event_type == 'purchase'
        |select a.event_id as x, b.event_id as y
        |order by x, y""".stripMargin)
    val pLen = dfLen.queryExecution.executedPlan.toString
    assert(!pLen.contains("windowspecdefinition(ts_ns"),
      s"global single-task arrival-rank window remains:\n$pLen")
    assert(dfLen.count() > 0)
    def msg(q: String): String =
      intercept[IllegalArgumentException](compile(q)).getMessage
    assert(msg("""from events as a#window.time(1 min)
      |  join events as b#window.time(1 min)
      |  on a.value > b.value
      |select a.event_id as x insert into O""".stripMargin)
      .contains("equality conjunct"))
    assert(msg("""from events#window.time(1 min)
      |  join events as b#window.time(1 min)
      |  on user_id == b.user_id
      |select b.event_id as x insert into O""".stripMargin)
      .contains("aliases"))
    assert(msg("""from events as a#window.session(2 min)
      |  join events as b#window.time(1 min)
      |  on a.user_id == b.user_id
      |select a.event_id as x insert into O""".stripMargin)
      .contains("BOTH sides"))
    // right-side `unidirectional` == the explicitly swapped left form
    val viaRight = compile(
      """from events as a#window.time(2 min)
        |  join events as b#window.time(5 min) unidirectional
        |  on a.user_id == b.user_id and b.event_type == 'error'
        |select a.event_id as x, b.event_id as y
        |order by x, y""".stripMargin).collect().toSeq
    val viaSwapped = compile(
      """from events as b#window.time(5 min) unidirectional
        |  join events as a#window.time(2 min)
        |  on a.user_id == b.user_id and b.event_type == 'error'
        |select a.event_id as x, b.event_id as y
        |order by x, y""".stripMargin).collect().toSeq
    assert(viaRight.nonEmpty && viaRight == viaSwapped)
    assert(msg("""from events as a#window.time(1 min)
      |  left outer join events as b#window.time(1 min) unidirectional
      |  on a.user_id == b.user_id
      |select a.event_id as x insert into O""".stripMargin)
      .contains("inner joins"))
  }

  test("live join→agg chained topology is NON-EMPTY at test scale and " +
       "equals batch replay (vacuous-pass guard, ADVICE r7)") {
    // the sql_app_join_agg_live gate shape: 10-min windows are what make
    // the error × purchase pairing non-empty in the sparse fixtures — a
    // narrower band passes the driver comparison on 0 == 0 rows and the
    // chained-stateful-operator semantics go unexercised
    val app =
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
        |insert into Out""".stripMargin
    val live = SiddhiQL.deployApp(spark, sf, app, "agg")
      .collect().map(_.toSeq)
    val batch = SiddhiQL.compileApp(spark, sf, app)("agg")
      .collect().map(_.toSeq)
    assert(live.nonEmpty, "join-agg gate shape returned 0 rows at test " +
      "scale — the driver gate would pass vacuously")
    assert(live sameElements batch)
    // the bare join stage (sql_app_join_live's shape) gets the same
    // non-vacuous + live==batch guard
    val livePairs = SiddhiQL.deployApp(spark, sf, app, "pairs")
      .orderBy("ts_ns", "user_id", "value").collect().map(_.toSeq)
    val batchPairs = SiddhiQL.compileApp(spark, sf, app)("pairs")
      .orderBy("ts_ns", "user_id", "value").collect().map(_.toSeq)
    assert(livePairs.nonEmpty && (livePairs sameElements batchPairs))
  }

  test("live enrichment join (stream ⋈ DML-maintained table): " +
       "per-event as-of, live == batch, chunking-invariant") {
    val app =
      """define table UserState (user_id long, last_value double,
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
        |insert into Out""".stripMargin
    val live = SiddhiQL.deployApp(spark, sf, app, "enrich")
      .collect().map(_.toSeq)
    val batch = SiddhiQL.compileApp(spark, sf, app)("enrich")
      .collect().map(_.toSeq)
    assert(live.nonEmpty && (live sameElements batch))
    // a different micro-batch split must not change the result —
    // per-event semantics never reference batch boundaries
    for (c <- Seq(2, 7)) {
      val liveC = SiddhiQL.deployApp(spark, sf, app, "enrich", chunks = c)
        .collect().map(_.toSeq)
      assert(liveC sameElements live, s"live($c) != live(4)")
    }
    // independent truth for one user: the last pre-purchase update
    val ev = engine.Tables.events(spark, sf)
      .select("event_id", "ts_ns", "user_id", "event_type", "value")
      .collect().sortBy(r => r.getLong(1))
    val firstBuy = ev.find(_.getString(3) == "purchase").get
    val expectPrev = ev.filter(r =>
      r.getLong(2) == firstBuy.getLong(2) &&
      r.getString(3) != "purchase" &&
      r.getLong(1) <= firstBuy.getLong(1)).lastOption
    val got = live.find(_.head == firstBuy.getLong(0))
    expectPrev match {
      case Some(u) =>
        assert(got.exists(r => r(2) == u.getDouble(4) &&
          r(3) == u.getString(3)))
      case None => assert(got.isEmpty) // inner join: no state yet
    }
    // left outer keeps state-less purchases with null enrichment
    val outer = SiddhiQL.deployApp(spark, sf, app.replace(
      "join UserState", "left outer join UserState"), "enrich")
      .collect()
    assert(outer.length >= live.length)
    assert(outer.filter(_.isNullAt(2)).forall(r =>
      !live.exists(_.head == r.getLong(0))))
    // diagnostics name the v1 bounds
    def msg(a: String): String = intercept[IllegalArgumentException](
      SiddhiQL.deployApp(spark, sf, a, "enrich")).getMessage
    assert(msg(app.replace("join UserState",
      "#window.time(1 min) join UserState"))
      .contains("per-event lookups"))
    // aggregation ABOVE the enrichment now deploys (round 9,
    // sql_app_enrich_agg_live); the v1 bound it names is the group-key
    // discipline (keys = the non-aggregate select aliases)
    assert(msg(app.replace("select e.event_id as event_id,",
      "select count() as n,")).contains("groups by exactly"))
  }

  test("live rate modes last/all/snapshot equal batch replay " +
       "(VERDICT r7 #3)") {
    def both(q: String, name: String, ord: String, chunks: Int = 4)
        : Unit = {
      val live = SiddhiQL.deployApp(spark, sf, q, name, chunks)
        .orderBy(ord).collect().map(_.toSeq)
      val batch = SiddhiQL.compileApp(spark, sf, q)(name)
        .orderBy(ord).collect().map(_.toSeq)
      assert(live.nonEmpty, s"$name returned 0 rows — vacuous")
      assert(live sameElements batch,
        s"$name: live($chunks) != batch replay")
    }
    // last: Append-mode window max_by, emitted at watermark close
    both("""@info(name = 'l') from events[value > 100.0]
      |select event_id, user_id, value
      |output last every 1 min insert into Out""".stripMargin,
      "l", "event_id")
    // all: emission batching only — pass-through content
    both("""@info(name = 'a') from events[value > 150.0]
      |select event_id, user_id, value
      |output all every 1 min insert into Out""".stripMargin,
      "a", "event_id")
    // snapshot: keyed per-interval fold + gap fill at finish; an
    // interval's pick re-merges across triggers, so any chunking
    for (c <- Seq(4, 2, 7))
      both("""@info(name = 's') from events select value as v
        |output snapshot every 10 min insert into Out""".stripMargin,
        "s", "w_end_ms", c)
  }

  /** Per-trigger state scratch dirs under the scratch root — the fold
    * runner and the Update-mode sink keep their state in memory and
    * must create none. */
  private def foldScratch(): Set[String] =
    Option(engine.Streaming.scratchRoot.toFile.list).toSeq.flatten
      .filter(n => n.startsWith("graft_live_fold") ||
        n.startsWith("graft_upd")).toSet

  test("bucketed live-fold state: per-trigger write cost tracks the " +
       "batch's keys, not the accumulated table (VERDICT r7 #2)") {
    // synthetic feed: 10 micro-batches × 4 users × 10 events. With NEW
    // users per batch the accumulated upsert table grows to 40 keys
    // while every batch only touches 4, so bucketed generations must
    // write a small, flat slice per trigger instead of rewriting the
    // whole table; with the SAME 4 users in every batch, each trigger
    // supersedes the last one's buckets, so their generations must be
    // released instead of piling up in executor memory
    import spark.implicits._
    def feed(user: Int => Long): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fold_write").toString
      (0 until 400).map { i =>
        (i.toLong, 1600000000000000000L + i * 1000000000L, user(i),
          "update", (i % 97).toDouble)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .repartition(1).write.parquet(s"$dir/events.parquet")
      dir
    }
    val app =
      """define table T (user_id long, last_value double);
        |@info(name = 'q') from events
        |select user_id, value as last_value
        |update or insert into T on T.user_id == user_id""".stripMargin
    val probe = scala.collection.mutable.Buffer.empty[(Int, String, Long)]
    def run(dir: String): Array[Seq[Any]] = {
      probe.clear()
      val live = SiddhiQL.deployApp(spark, dir, app, "q", chunks = 10)
        .orderBy("user_id").collect().map(_.toSeq)
      // correctness first: live fold == statement-at-once batch replay
      val batch = SiddhiQL.compileApp(spark, dir, app)("q")
        .orderBy("user_id").collect().map(_.toSeq)
      assert(live sameElements batch)
      live
    }
    spark.conf.set("graft.live.stateBuckets", "64")
    SiddhiQL.foldWriteProbe = Some(probe)
    try {
      assert(run(feed(i => (i / 40) * 4L + (i % 40) / 10)).length == 40)
      // write-cost: 10 generations, each rewriting only the batch's
      // touched buckets (≤ 4 of 64) — never the accumulated 40-key
      // table. Hash bucketing is deterministic, so the bound is exact.
      val writes = probe.map(_._3)
      assert(writes.length == 10, s"expected 10 generations: $writes")
      assert(writes.forall(_ <= 16),
        s"per-trigger writes not bounded by the batch's buckets: $writes")
      assert(writes.last < 20,
        s"final-trigger write grew with the table: ${writes.last}")

      // same 4 keys every chunk: after the result is collected, at
      // most one generation per touched bucket is still persisted, and
      // no per-trigger scratch dir was created
      val sc = spark.sparkContext
      val rdds0 = sc.getPersistentRDDs.keySet
      val scratch0 = foldScratch()
      assert(run(feed(i => (i % 40) / 10L)).length == 4)
      assert(probe.length == 10, s"expected 10 generations: $probe")
      val touched = Seq(0L, 1L, 2L, 3L).toDF("user_id")
        .select(pmod(hash(col("user_id")), lit(64))).distinct().count()
      val kept = sc.getPersistentRDDs.keySet -- rdds0
      assert(kept.size <= touched,
        s"${kept.size} generations still persisted for $touched buckets")
      assert(foldScratch() -- scratch0 == Set.empty,
        s"fold runner wrote scratch dirs: ${foldScratch() -- scratch0}")
    } finally {
      SiddhiQL.foldWriteProbe = None
      spark.conf.unset("graft.live.stateBuckets")
    }
  }

  test("keyed-read key dedup: a binary key and a ±0.0 key each " +
       "dedupe to one row") {
    import org.apache.spark.sql.Row
    val rows = Seq(Row(Array[Byte](1, 2), 0), Row(Array[Byte](1, 2), 0),
      Row(-0.0d, 1), Row(0.0d, 1), Row(1.5d, 2))
    val got = SiddhiQL.distinctKeys(rows.iterator, 10)
    assert(got.map(_.map(_.getInt(1))) == Some(Seq(0, 1, 2)), got)
    // over the cap: None, the truncation marker
    assert(SiddhiQL.distinctKeys(rows.iterator, 2).isEmpty)
  }

  test("time-banded flush-partial store: per-trigger full reads stay " +
       "O(live band + base), results unchanged (VERDICT r11 #1)") {
    // synthetic feed: 1200 events at 2-min spacing → 240 timeBatch(10
    // min) buckets over 4 users. Replayed in 12 chunks with
    // compactEvery=3, the flush-partial store sheds frozen buckets
    // into the per-key base at generations 3/6/9/12 — so the as-of
    // read's per-trigger full() scan must track the live band (~a few
    // chunks of buckets), never the ~960 partials ever written, while
    // the joined rows stay equal to the statement-at-once batch
    // replay under heavy compaction.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fold_read").toString
    val rows = (0 until 1200).map { i =>
      (i.toLong, 1600000000000000000L + i * 120000000000L, (i % 4).toLong,
        if (i % 5 == 4) "purchase" else "click", (i % 97).toDouble)
    }
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(1).write.parquet(s"$dir/events.parquet")
    val app =
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table WinStats (user_id long, cnt long, total double);
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, sum(value) as total
        |group by user_id
        |update or insert into WinStats on WinStats.user_id == user_id;
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join WinStats
        |  on WinStats.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  WinStats.cnt as clicks, WinStats.total as click_total
        |order by event_id
        |insert into Out""".stripMargin
    val probe = scala.collection.mutable.Buffer.empty[(Int, String, Long)]
    spark.conf.set("graft.live.compactEvery", "3")
    SiddhiQL.foldReadProbe = Some(probe)
    try {
      val live = SiddhiQL.deployApp(spark, dir, app, "read", chunks = 12)
        .collect().map(_.toSeq)
      val batch = SiddhiQL.compileApp(spark, dir, app)("read")
        .orderBy("event_id").collect().map(_.toSeq)
      assert(live.length == 240 && (live sameElements batch))
      val stateReads = probe.filter(_._2 == "state").map(_._3)
      val baseReads = probe.filter(_._2 == "base").map(_._3)
      assert(stateReads.nonEmpty && baseReads.nonEmpty,
        s"read probe saw no full() scans: $probe")
      // the live-band bound: after each compaction the store holds at
      // most ~compactEvery chunks of bucket partials (20 buckets × 4
      // users per chunk) + the watermark margin — far below the ~960
      // partials the un-pruned store would accumulate by the tail
      assert(stateReads.max < 500,
        s"full-state read grew with bucket history: $stateReads")
      assert(stateReads.last < 400,
        s"final-trigger read did not stay in the live band: $stateReads")
      // the base compacts to ONE latest flush row per group key
      assert(baseReads.forall(_ <= 4),
        s"compacted base exceeds the key domain: $baseReads")
      // the AGGREGATING read rides the same pruned store: fold the
      // as-of rows per user under the same heavy compaction — the
      // result must equal the per-event batch rows aggregated (the
      // batch compiler keeps enrichment joins projection-only, so the
      // truth is the proj replay grouped by hand, like the gate's
      // independent DuckDB oracle)
      val appA = app.replace(
        """select e.event_id as event_id, e.user_id as user_id,
          |  WinStats.cnt as clicks, WinStats.total as click_total
          |order by event_id""".stripMargin,
        """select e.user_id as user_id, count() as n,
          |  sum(WinStats.total) as s
          |group by user_id
          |order by user_id""".stripMargin)
      val liveA = SiddhiQL.deployApp(spark, dir, appA, "read",
        chunks = 12).collect().map(_.toSeq)
      val expA = batch.groupBy(_(1)).toSeq
        .map { case (u, rs) =>
          Seq(u, rs.length.toLong, rs.map(_(3).asInstanceOf[Double]).sum) }
        .sortBy(_.head.asInstanceOf[Long])
      assert(liveA.length == 4 && (liveA.toSeq == expA))
    } finally {
      SiddhiQL.foldReadProbe = None
      spark.conf.unset("graft.live.compactEvery")
    }
  }

  test("MIXED-writer time-banded base: per-writer compaction bounds " +
       "the flush band, as-of reads unchanged (r15, VERDICT r14 #2)") {
    // the r14 mixed as-of read branch kept every windowed writer's
    // flush band un-compacted; r15 ports the single-windowed path's
    // banded base PER WRITER. Same synthetic shape as the single-path
    // probe test: 1200 events at 2-min spacing over 4 users, 12
    // chunks, compactEvery=3 — but through a MIXED group (per-event
    // view upserts + 10-min click flush upserts on one table). The
    // windowed writer is index 1 → states wst1 / wbase1.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mixed_compact").toString
    val rows = (0 until 1200).map { i =>
      (i.toLong, 1600000000000000000L + i * 120000000000L, (i % 4).toLong,
        i % 5 match {
          case 4 => "purchase"
          case 3 => "view"
          case _ => "click"
        }, (i % 97).toDouble)
    }
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(1).write.parquet(s"$dir/events.parquet")
    val app =
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table MixC (user_id long, v double);
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, math:round(value, 2) as v
        |update or insert into MixC on MixC.user_id == user_id;
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MixC on MixC.user_id == user_id;
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join MixC
        |  on MixC.user_id == e.user_id
        |select e.event_id as event_id, MixC.v as v
        |order by event_id
        |insert into Out""".stripMargin
    val probe = scala.collection.mutable.Buffer.empty[(Int, String, Long)]
    spark.conf.set("graft.live.compactEvery", "3")
    SiddhiQL.foldReadProbe = Some(probe)
    try {
      val live = SiddhiQL.deployApp(spark, dir, app, "read", chunks = 12)
        .collect().map(_.toSeq)
      val batch = SiddhiQL.compileApp(spark, dir, app)("read")
        .orderBy("event_id").collect().map(_.toSeq)
      assert(live.nonEmpty && (live sameElements batch),
        "compacted mixed live read diverges from the batch replay")
      val wstReads = probe.filter(_._2 == "wst1").map(_._3)
      val baseReads = probe.filter(_._2 == "wbase1").map(_._3)
      assert(wstReads.nonEmpty && baseReads.nonEmpty,
        s"read probe saw no wst1/wbase1 scans: $probe")
      // the live band stays bounded: ~compactEvery chunks of bucket
      // partials (20 buckets × 4 users per chunk) + watermark margin,
      // never the ~960 partials the un-compacted r14 branch holds by
      // the replay's tail
      assert(wstReads.max < 500,
        s"mixed flush band grew with bucket history: $wstReads")
      assert(wstReads.last < 400,
        s"final-trigger band read not in the live band: $wstReads")
      // the base compacts to ONE latest flush row per group key
      assert(baseReads.forall(_ <= 4),
        s"compacted mixed base exceeds the key domain: $baseReads")
    } finally {
      SiddhiQL.foldReadProbe = None
      spark.conf.unset("graft.live.compactEvery")
    }
  }

  test("windowed SHAPE-MIX live reads: fold-shaped and implicit-shaped " +
       "windowed members both equal the batch replay (r15)") {
    // the gated arm (sql_enrich_shape_mix_win) covers per-event
    // implicit + per-event fold + windowed IMPLICIT; these two pin
    // the remaining windowed shapes — a windowed FOLD writer whose
    // flush deltas stay an un-collapsed band, alone and alongside a
    // per-event fold — against the batch replay byte-for-byte.
    // chunks=2 (r16 suite economics): still multi-chunk, so the
    // chunking-invariance pin stands at half the trigger cost
    def runBoth(app: String, chunks: Seq[Int] = Seq(2)): Unit = {
      val batch = SiddhiQL.compileApp(spark, sf, app)("q")
        .collect().toSeq
      for (c <- chunks) {
        val live = SiddhiQL.deployApp(spark, sf,
          "define stream events (event_id long, ts_ns long, user_id " +
            "long, event_type string, value double);\n" + app, "q",
          chunks = c)
          .collect().toSeq
        assert(batch.nonEmpty && live == batch,
          s"windowed shape-mix live($c) (${live.size}) diverges from " +
            s"batch (${batch.size})")
      }
    }
    runBoth(chunks = Seq(2, 7), app =
      """define table SmB (user_id long, cnt long);
        |@info(name='rst') from events[event_type == 'view']
        |select user_id, event_id as cnt
        |update or insert into SmB on SmB.user_id == user_id;
        |@info(name='wadd') from events[event_type == 'click']
        |#window.timeBatch(10 min)
        |select user_id, count() as cnt
        |group by user_id
        |update or insert into SmB set SmB.cnt = SmB.cnt + cnt
        |  on SmB.user_id == user_id;
        |@info(name='q')
        |from events as e[event_type == 'purchase'] join SmB
        |  on SmB.user_id == e.user_id
        |select e.event_id as event_id, SmB.cnt as cnt
        |order by event_id insert into Out""".stripMargin)
    runBoth(
      """define table SmC (user_id long, cnt long);
        |@info(name='rst') from events[event_type == 'view']
        |select user_id, event_id as cnt
        |update or insert into SmC on SmC.user_id == user_id;
        |@info(name='add') from events[event_type == 'error']
        |select user_id, convert(1, 'long') as cnt
        |update or insert into SmC set SmC.cnt = SmC.cnt + 1
        |  on SmC.user_id == user_id;
        |@info(name='wadd') from events[event_type == 'click']
        |#window.timeBatch(10 min)
        |select user_id, count() as cnt
        |group by user_id
        |update or insert into SmC set SmC.cnt = SmC.cnt + cnt
        |  on SmC.user_id == user_id;
        |@info(name='q')
        |from events as e[event_type == 'purchase'] join SmC
        |  on SmC.user_id == e.user_id
        |select e.event_id as event_id, SmC.cnt as cnt
        |order by event_id insert into Out""".stripMargin)
  }

  test("windowed EVENT-LOG live reads: single flush-insert log and " +
       "insert + windowed-upsert overlay both equal batch (r15)") {
    // the gated arm (sql_app_enrich_log_win_live) covers per-event
    // inserts + a flush-insert member + sweepers; these pin the two
    // remaining windowed-log shapes — a log fed ONLY by flush inserts,
    // and per-event inserts overlaid by a windowed UPSERT member.
    // chunks=2 (r16 suite economics): still multi-chunk, so the
    // chunking-invariance pin stands at half the trigger cost
    def runBoth(app: String, chunks: Seq[Int] = Seq(2)): Unit = {
      val batch = SiddhiQL.compileApp(spark, sf, app)("q")
        .collect().toSeq
      for (c <- chunks) {
        val live = SiddhiQL.deployApp(spark, sf,
          "define stream events (event_id long, ts_ns long, user_id " +
            "long, event_type string, value double);\n" + app, "q",
          chunks = c)
          .collect().toSeq
        assert(batch.nonEmpty && live == batch,
          s"windowed-log live($c) (${live.size}) diverges from batch " +
            s"(${batch.size})")
      }
    }
    runBoth(chunks = Seq(2, 7), app =
      """define table WL (user_id long, v double);
        |@info(name='roll') from events[event_type == 'click']
        |#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |insert into WL;
        |@info(name='q')
        |from events as e[event_type == 'purchase'] join WL
        |  on WL.user_id == e.user_id
        |select e.event_id as event_id, WL.v as v
        |order by event_id, v insert into Out""".stripMargin)
    runBoth(
      """define table CartO (user_id long, item long, v double);
        |@info(name='add') from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into CartO;
        |@info(name='ups') from events[event_type == 'view']
        |#window.timeBatch(10 min)
        |select user_id, min(event_id) as item,
        |  math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into CartO on CartO.user_id == user_id;
        |@info(name='q')
        |from events as e[event_type == 'purchase'] join CartO
        |  on CartO.user_id == e.user_id
        |select e.event_id as event_id, CartO.v as v
        |order by event_id, v insert into Out""".stripMargin)
    // (r17, VERDICT r16 #3) a windowed log member whose table key is
    // an AGGREGATE output — bucket membership would move as partials
    // merge, so the store cannot key on it; the r16 fail-fast is now
    // a recorded full-read fallback (the r15 behavior), so the app
    // deploys again and still equals batch
    runBoth(
      """define table LogA (k long, v double);
        |@info(name='add') from events[event_type == 'click']
        |select user_id as k, value as v
        |insert into LogA;
        |@info(name='roll') from events[event_type == 'view']
        |#window.timeBatch(10 min)
        |select max(user_id) as k, math:round(sum(value), 2) as v
        |group by user_id
        |insert into LogA;
        |@info(name='q')
        |from events as e[event_type == 'purchase'] join LogA
        |  on LogA.k == e.user_id
        |select e.event_id as event_id, LogA.v as v
        |order by event_id, v insert into Out""".stripMargin)
  }

  test("enrichment channels x tails: deployApp at 2 chunks == at 7 " +
       "chunks == compileApp (plain, windowed and event-log " +
       "aggregates; windowed projection)") {
    val evDef = "define stream events (event_id long, ts_ns long, " +
      "user_id long, event_type string, value double);\n"
    val read = "@info(name='q')\n" +
      "from events as e[event_type == 'purchase'] join X\n" +
      "  on X.user_id == e.user_id\n"
    val projRead = read + "select e.event_id as event_id, " +
      "e.user_id as user_id, X.c as c\norder by event_id, c " +
      "insert into Out"
    val aggRead = read + "select e.user_id as user_id, count() as n, " +
      "sum(X.c) as s\ngroup by user_id\norder by user_id insert into Out"
    def longs(rows: Seq[org.apache.spark.sql.Row]): Seq[Seq[Long]] =
      rows.map(_.toSeq.map(_.asInstanceOf[Number].longValue))
    // `writers` maintains table X (user_id long, c long); the batch
    // compile keeps enrichment reads projection-only, so the aggregate's
    // truth is its per-pair rows grouped by user (long sums: exact in
    // any order)
    def pin(writers: String, proj: Boolean): Unit = {
      val app = "define table X (user_id long, c long);\n" + writers
      val pairs = SiddhiQL.compileApp(spark, sf, app + projRead)("q")
      val batchP = longs(pairs.collect().toSeq)
      assert(batchP.nonEmpty, "no enriched rows at test scale — vacuous")
      val batchA = longs(pairs.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("c").as("s"))
        .orderBy("user_id").collect().toSeq)
      for (c <- Seq(2, 7)) {
        if (proj) {
          val live = SiddhiQL.deployApp(spark, sf, evDef + app + projRead,
            "q", chunks = c).collect().toSeq
          assert(longs(live) == batchP, s"projection live($c) != batch")
        }
        val liveA = SiddhiQL.deployApp(spark, sf, evDef + app + aggRead,
          "q", chunks = c).collect().toSeq
        assert(longs(liveA) == batchA, s"aggregate live($c) != batch")
      }
    }
    // plain table channel
    pin("""@info(name='t') from events[event_type == 'click']
          |select user_id, event_id as c
          |update or insert into X on X.user_id == user_id;
          |""".stripMargin, proj = false)
    // windowed-writer channel
    pin("""@info(name='roll') from events[event_type == 'click']
          |#window.timeBatch(10 min)
          |select user_id, count() as c
          |group by user_id
          |update or insert into X on X.user_id == user_id;
          |""".stripMargin, proj = true)
    // event log with a windowed member
    pin("""@info(name='add') from events[event_type == 'click']
          |select user_id, event_id as c
          |insert into X;
          |@info(name='roll') from events[event_type == 'view']
          |#window.timeBatch(10 min)
          |select user_id, count() as c
          |group by user_id
          |insert into X;
          |""".stripMargin, proj = false)
  }

  test("windowed event-log member long-horizon soak: per-trigger wst " +
       "reads grow with the batch's KEY history, not the table " +
       "(r16, VERDICT r15 #1/#7)") {
    // 30-trigger replay of a log table whose writers span 100 users
    // while the READ side's purchases come from only 4 — the r15
    // branch re-scanned the windowed member's whole flush-partial
    // state per trigger (and log semantics mean that state can never
    // compact), so its reads grew with the full 100-user × bucket
    // history. The r16 __mk*-keyed store must scan only the 4
    // purchase users' partial history: bounded by ~50 rows here vs
    // the ~1200 partials the store accumulates by the tail.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_logwin_soak").toString
    val rows = (0 until 1800).map { i =>
      val et = i % 6 match {
        case 5 => "purchase"
        case 0 => "click"
        case _ => "view"
      }
      val u = if (et == "purchase") ((i / 6) % 4).toLong
              else (i % 100).toLong
      (i.toLong, 1600000000000000000L + i * 60000000000L, u, et,
        (i % 97).toDouble)
    }
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(1).write.parquet(s"$dir/events.parquet")
    val app =
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table LogW (user_id long, item long, v double);
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into LogW;
        |@info(name = 'roll')
        |from events[event_type == 'view']#window.timeBatch(10 min)
        |select user_id, min(event_id) as item,
        |  math:round(sum(value), 2) as v
        |group by user_id
        |insert into LogW;
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join LogW
        |  on LogW.user_id == e.user_id
        |select e.event_id as event_id, LogW.item as item, LogW.v as v
        |order by event_id, item, v
        |insert into Out""".stripMargin
    val probe = scala.collection.mutable.Buffer.empty[(Int, String, Long)]
    SiddhiQL.foldReadProbe = Some(probe)
    try {
      val live = SiddhiQL.deployApp(spark, dir, app, "read", chunks = 30)
        .collect().map(_.toSeq)
      val batch = SiddhiQL.compileApp(spark, dir, app)("read")
        .orderBy("event_id", "item", "v").collect().map(_.toSeq)
      assert(live.nonEmpty && (live sameElements batch),
        s"soak live (${live.length}) diverges from batch " +
          s"(${batch.length})")
      // the windowed member is writer 1 → state wst1; every read is
      // post-prune (batch keys only). 4 purchase users hold ~12 view
      // buckets each by the tail — far under the ~1200-partial store.
      val wstReads = probe.filter(_._2 == "wst1").map(_._3)
      assert(wstReads.length >= 30,
        s"expected ≥30 wst1 probe entries: ${wstReads.length}")
      assert(wstReads.max <= 120,
        s"wst read grew past the 4 purchase users' bucket history " +
          s"(max ${wstReads.max}): $wstReads")
      assert(wstReads.last >= 10,
        s"final-trigger wst read vacuously small: ${wstReads.last}")
      // no unexpected full-read or prune fallbacks fired
      val fallbacks = probe.filter(_._2.startsWith("__"))
      assert(fallbacks.isEmpty, s"unexpected fallbacks: $fallbacks")
      info(s"wst1 per-trigger reads: min ${wstReads.min}, " +
        s"max ${wstReads.max}, last ${wstReads.last} " +
        s"(rows=${live.length})")
    } finally SiddhiQL.foldReadProbe = None
  }

  test("compacted as-of channels long-horizon soak: keyed wst/base " +
       "reads track the batch's KEYS, not the key domain " +
       "(r17, VERDICT r16 #1/#6)") {
    // 30-trigger replay at compactEvery=2 over stores whose writers
    // span 100 users while the read side's purchases come from only
    // 4. The r16 branches read full() per trigger: the whole live
    // band (all 100 users' un-frozen buckets) PLUS the key-domain
    // base (~100 rows) every trigger. The r17 __mk*-keyed stores
    // must scan only the 4 purchase users' live-band partials and
    // base rows — O(batch-key history), far under the ~100-row
    // key-domain floor the unkeyed read pays on the base alone.
    // Covers BOTH compacted channels: the single-windowed as-of
    // branch ("state"/"base") and the MIXED per-event + windowed
    // group ("wst1"/"wbase1").
    val dir = java.nio.file.Files
      .createTempDirectory("graft_asof_soak").toString
    val rows = (0 until 1800).map { i =>
      val et = i % 3 match {
        case 0 => "click"
        case 1 => "view"
        case _ => "purchase"
      }
      val u = if (et == "purchase") ((i / 3) % 4).toLong
              else (i % 100).toLong
      (i.toLong, 1600000000000000000L + i * 60000000000L, u, et,
        (i % 97).toDouble)
    }
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(1).write.parquet(s"$dir/events.parquet")
    val single =
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table WinS (user_id long, cnt long, total double);
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt,
        |  math:round(sum(value), 2) as total
        |group by user_id
        |update or insert into WinS on WinS.user_id == user_id;
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join WinS
        |  on WinS.user_id == e.user_id
        |select e.event_id as event_id, WinS.cnt as cnt,
        |  WinS.total as total
        |order by event_id
        |insert into Out""".stripMargin
    val mixed =
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table MixC (user_id long, v double);
        |@info(name = 'pe')
        |from events[event_type == 'view']
        |select user_id, math:round(value, 2) as v
        |update or insert into MixC on MixC.user_id == user_id;
        |@info(name = 'win')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, math:round(sum(value), 2) as v
        |group by user_id
        |update or insert into MixC on MixC.user_id == user_id;
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join MixC
        |  on MixC.user_id == e.user_id
        |select e.event_id as event_id, MixC.v as v
        |order by event_id
        |insert into Out""".stripMargin
    spark.conf.set("graft.live.compactEvery", "2")
    try {
      def soak(app: String, wst: String, base: String): Unit = {
        val probe =
          scala.collection.mutable.Buffer.empty[(Int, String, Long)]
        SiddhiQL.foldReadProbe = Some(probe)
        try {
          val live = SiddhiQL.deployApp(spark, dir, app, "read",
            chunks = 30).collect().map(_.toSeq)
          val batch = SiddhiQL.compileApp(spark, dir, app)("read")
            .orderBy("event_id").collect().map(_.toSeq)
          assert(live.nonEmpty && (live sameElements batch),
            s"soak live (${live.length}) != batch (${batch.length})")
          val wstReads = probe.filter(_._2 == wst).map(_._3)
          val baseReads = probe.filter(_._2 == base).map(_._3)
          assert(wstReads.length >= 30,
            s"expected ≥30 $wst probe entries: ${wstReads.length}")
          // each purchase user gets one click per ~300 min, so the
          // 4 batch keys hold only a handful of live-band partials —
          // the unkeyed r16 read scanned the whole ~40-partial band
          assert(wstReads.max <= 30,
            s"$wst read grew past the batch keys' live band " +
              s"(max ${wstReads.max}): $wstReads")
          assert(wstReads.sum >= 1,
            s"$wst reads vacuously empty across the soak")
          // the base compacts to ≤1 flush row per key; the keyed
          // read sees only the 4 purchase users' rows, never the
          // 100-user key domain
          assert(baseReads.nonEmpty && baseReads.max <= 4,
            s"$base read grew past the batch keys: $baseReads")
          assert(baseReads.max >= 1,
            s"$base reads vacuously empty: compaction never froze " +
              s"a batch key's bucket in 30 triggers")
          val fallbacks = probe.filter(_._2.startsWith("__"))
          assert(fallbacks.isEmpty,
            s"unexpected fallbacks: $fallbacks")
          info(s"$wst reads max ${wstReads.max} " +
            s"last ${wstReads.last}; $base reads max " +
            s"${baseReads.max} (rows=${live.length})")
        } finally SiddhiQL.foldReadProbe = None
      }
      soak(single, "state", "base")
      soak(mixed, "wst1", "wbase1")
    } finally spark.conf.unset("graft.live.compactEvery")
  }

  test("graft.live.watermark: one knob moves the source watermark AND " +
       "the compaction freeze bound in lockstep (r14)") {
    // same synthetic feed as the flush-partial store test: 1200 events
    // at 2-min spacing (span 40 h), compactEvery=3. With the default
    // 60 s watermark the store sheds frozen buckets into the base;
    // with the knob raised ABOVE the span nothing is ever frozen —
    // the freeze bound moved exactly as far as the watermark did —
    // and the finite replay's RESULTS are identical either way.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_wm_knob").toString
    val rows = (0 until 1200).map { i =>
      (i.toLong, 1600000000000000000L + i * 120000000000L, (i % 4).toLong,
        if (i % 5 == 4) "purchase" else "click", (i % 97).toDouble)
    }
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(1).write.parquet(s"$dir/events.parquet")
    val app =
      """define stream events (event_id long, ts_ns long, user_id long,
        |  event_type string, value double);
        |define table WinStats (user_id long, cnt long, total double);
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt, sum(value) as total
        |group by user_id
        |update or insert into WinStats on WinStats.user_id == user_id;
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join WinStats
        |  on WinStats.user_id == e.user_id
        |select e.event_id as event_id, e.user_id as user_id,
        |  WinStats.cnt as clicks, WinStats.total as click_total
        |order by event_id
        |insert into Out""".stripMargin
    spark.conf.set("graft.live.compactEvery", "3")
    try {
      def run(): (Seq[Seq[Any]], Seq[Long], Seq[Long]) = {
        val probe =
          scala.collection.mutable.Buffer.empty[(Int, String, Long)]
        SiddhiQL.foldReadProbe = Some(probe)
        try {
          val r = SiddhiQL.deployApp(spark, dir, app, "read",
            chunks = 12).collect().map(_.toSeq).toSeq
          (r, probe.filter(_._2 == "state").map(_._3).toSeq,
            probe.filter(_._2 == "base").map(_._3).toSeq)
        } finally SiddhiQL.foldReadProbe = None
      }
      val (rDef, stDef, baseDef) = run()
      spark.conf.set("graft.live.watermark", "200000") // > 40 h span
      val (rBig, stBig, baseBig) = run()
      assert(rDef.length == 240 && rDef == rBig,
        "watermark delay changed finite-replay results")
      // default: freezing sheds buckets (the store test's band bound)
      assert(stDef.max < 500 && baseDef.exists(_ > 0),
        s"default watermark did not freeze: st=$stDef base=$baseDef")
      // raised ABOVE the span: nothing freezes — the store keeps every
      // partial (reads grow monotonically past the default band's
      // shed ceiling; the last read precedes the final write, so the
      // ceiling is ~11/12 of the ~960 partials) and the base never
      // receives a row
      assert(stBig.max > stDef.max && stBig.max > 600 &&
        stBig == stBig.sorted && baseBig.forall(_ == 0),
        s"raised watermark still froze buckets: st=$stBig base=$baseBig")
      // the knob validates like the other deploy-time fail-fasts
      spark.conf.set("graft.live.watermark", "soon")
      val m = intercept[IllegalArgumentException](
        SiddhiQL.deployApp(spark, dir, app, "read")).getMessage
      assert(m.contains("graft.live.watermark"))
      spark.conf.unset("graft.live.watermark")
      // so does the state bucket count: a non-positive one would leave
      // every keyed state's bucket range empty (an empty result)
      Seq("x", "0", "-4").foreach { v =>
        spark.conf.set("graft.live.stateBuckets", v)
        val mb = intercept[IllegalArgumentException](
          SiddhiQL.deployApp(spark, dir, app, "read")).getMessage
        assert(mb.contains("graft.live.stateBuckets"), s"'$v': $mb")
      }
    } finally {
      spark.conf.unset("graft.live.compactEvery")
      spark.conf.unset("graft.live.watermark")
      spark.conf.unset("graft.live.stateBuckets")
    }
  }

  test("enrichment read prune: per-trigger table reads track the " +
       "batch's event-key domain on a growing event log, results " +
       "unchanged (VERDICT r12 #1)") {
    // 1200 events over 40 users, replayed in 12 chunks. Clicks append
    // to the Cart log (~1170 live rows by the tail — deletes are rare
    // on purpose, so the log GROWS); each chunk carries exactly 2
    // purchases, so the per-trigger read's key domain is ≤ 2 users.
    // The pruned read (fullFor buckets + null-safe semi-join) must
    // track those ~2 users' rows (≤ ~60 at the tail), never the whole
    // live log (~1000+ un-pruned), while the joined rows stay equal
    // to the statement-at-once batch replay.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_enrich_prune").toString
    val rows = (0 until 1200).map { i =>
      val et =
        if (i % 50 == 49) "purchase"
        else if (i % 400 == 399) "error"
        else "click"
      (i.toLong, 1600000000000000000L + i * 1000000000L,
        (i % 40).toLong, et, (i % 97).toDouble)
    }
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(1).write.parquet(s"$dir/events.parquet")
    val app =
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
        |from events[event_type == 'error']
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item, Cart.v as v
        |order by event_id, item
        |insert into Out""".stripMargin
    val probe = scala.collection.mutable.Buffer.empty[(Int, String, Long)]
    SiddhiQL.foldReadProbe = Some(probe)
    try {
      val live = SiddhiQL.deployApp(spark, dir, app, "buy", chunks = 12)
        .collect().map(_.toSeq)
      val batch = SiddhiQL.compileApp(spark, dir, app)("buy")
        .orderBy("event_id", "item").collect().map(_.toSeq)
      assert(live.nonEmpty && live.length == batch.length &&
        (live sameElements batch))
      val reads = probe.filter(_._2 == "Cart").map(_._3)
      assert(reads.length == 12, s"expected 12 pruned reads: $probe")
      // ≤2 purchase users per trigger × ≤30 live cart rows each; the
      // un-pruned read would cross 500 by generation 6 and end ~1100
      assert(reads.max <= 150,
        s"pruned read grew past the batch key domain: $reads")
      assert(reads.last <= 150,
        s"final-trigger read did not stay key-bounded: $reads")
    } finally {
      SiddhiQL.foldReadProbe = None
    }
  }

  test("rate over pattern matches deploys live and equals batch " +
      "replay (incl. absence patterns; r14)") {
    // followed-by pattern, count + time rate modes: the live
    // accumulate-then-rank fold's finish IS the batch selection
    // (rateSelect), so equality pins the fold plumbing
    def app(rate: String): String =
      "@info(name='q') from every e1=events[event_type == 'error'] " +
        "-> e2=events[event_type == 'purchase'] within 120 min " +
        "select e1.user_id as user_id, e1.event_id as start_id, " +
        "e2.event_id as next_id " +
        s"output $rate order by start_id, next_id insert into O"
    for (r <- Seq("first every 4 events", "last every 10 min",
        "all every 10 min")) {
      val live = SiddhiQL.deployApp(spark, sf, app(r), "q")
        .collect().map(_.toSeq).sortBy(_.toString)
      val batch = SiddhiQL.compileApp(spark, sf, app(r))("q")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(live.nonEmpty && (live sameElements batch),
        s"rate '$r': live=${live.length} batch=${batch.length}")
    }
    // ABSENCE pattern + rate: the fold feeds from the timed re-fold
    // channel and needs the flush sentinels for the last deadlines
    val appAbs =
      "@info(name='q') from every e1=events[event_type == 'error'] " +
        "-> not events[event_type == 'purchase' and " +
        "user_id == e1.user_id] for 5 min " +
        "select e1.user_id as user_id, e1.event_id as event_id " +
        "output first every 7 events " +
        "order by event_id insert into O"
    val liveA = SiddhiQL.deployApp(spark, sf, appAbs, "q")
      .collect().map(_.toSeq).sortBy(_.toString)
    val batchA = SiddhiQL.compileApp(spark, sf, appAbs)("q")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(liveA.nonEmpty && (liveA sameElements batchA),
      s"absence rate: live=${liveA.length} batch=${batchA.length}")
    // snapshot over a pattern stays refused, named identically on
    // both surfaces (the batch compiler's rule)
    val m = intercept[IllegalArgumentException](SiddhiQL.deployApp(
      spark, sf, app("snapshot every 10 min"), "q")).getMessage
    assert(m.contains("snapshot over a pattern"))
  }

  test("live table READ stage: windowed-writer snapshot equals batch; " +
      "bounds are named (r14)") {
    // the read stage rides whatever store the writers build — here
    // the windowed flush-partial store (windowedDmlFold through
    // tableFoldFor), the one writer shape the gate twins don't cover
    val app =
      """define table WinStats (user_id long, cnt long, total double);
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt,
        |  math:round(sum(value), 2) as total
        |group by user_id
        |update or insert into WinStats
        |  on WinStats.user_id == user_id;
        |@info(name = 'read')
        |from WinStats[total > 90.0]
        |select user_id, cnt
        |order by user_id insert into Out""".stripMargin
    val live = SiddhiQL.deployApp(spark, sf, app, "read")
      .collect().map(_.toSeq)
    val batch = SiddhiQL.compileApp(spark, sf, app)("read")
      .collect().map(_.toSeq)
    assert(live.nonEmpty && (live sameElements batch),
      s"windowed-writer read: live=${live.length} batch=${batch.length}")
    // the v1 bounds fail by name
    def msg(read: String): String =
      intercept[IllegalArgumentException](SiddhiQL.deployApp(spark, sf,
        app.replace("""from WinStats[total > 90.0]
        |select user_id, cnt
        |order by user_id""".stripMargin, read), "read")).getMessage
    assert(msg("from WinStats select user_id, sum(cnt) as s " +
      "group by user_id").contains("on-demand store query"))
    assert(msg("from WinStats#window.length(5) select user_id, cnt")
      .contains("no window"))
    assert(msg("from WinStats select user_id, cnt " +
      "output first every 1 min").contains("no output rate"))
  }

  test("live deployment with a script function equals batch replay") {
    val fn = """define function boost[javascript] return double {
               |  return data[0] > 100 ? data[0] * 1.5 : data[0];
               |};
               |""".stripMargin
    // a stateless stage, and two folds whose closures call the
    // function on the runner's micro-batch thread
    val apps = Seq(fn +
      """@info(name = 'q') from events[value > 50]
        |select user_id, event_id, boost(value) as bv insert into Out""",
      fn + """define table T (user_id long, bv double);
        |@info(name = 'q') from events[value > 50]
        |select user_id, boost(value) as bv
        |update or insert into T on T.user_id == user_id""",
      fn + """@info(name = 'q') from events#window.unique:last(user_id)
        |select user_id, boost(value) as bv
        |order by user_id insert into Out""").map(_.stripMargin)
    for (app <- apps) {
      val live = SiddhiQL.deployApp(spark, sf, app, "q")
        .collect().map(_.toSeq).sortBy(_.toString)
      val batch = SiddhiQL.compileApp(spark, sf, app)("q")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(live.nonEmpty && (live sameElements batch), app)
    }
  }

  test("live deployApp applies the out query's order by, offset and " +
       "limit like compileApp") {
    val apps = Seq(
      "@info(name = 'q') from events[event_type == 'click'] " +
        "select event_id, value order by event_id limit 5 offset 10 " +
        "insert into Out",
      "@info(name = 'q') from events#window.unique:last(user_id) " +
        "select user_id, value order by user_id limit 3 insert into Out",
      "@info(name = 'q') from events#window.timeBatch(1 min) " +
        "select user_id, count() as n group by user_id " +
        "order by w_start_ms, user_id limit 2 insert into Out",
      "@info(name = 'q') from events select user_id, count() as n " +
        "group by user_id order by user_id limit 2 insert into Out")
    for (app <- apps) {
      val live = SiddhiQL.deployApp(spark, sf, app, "q")
        .collect().map(_.toSeq).toSeq
      val batch = SiddhiQL.compileApp(spark, sf, app)("q")
        .collect().map(_.toSeq).toSeq
      assert(live.nonEmpty && live == batch,
        s"$app: live=${live.length} batch=${batch.length}")
    }
  }

  test("partition-block rate limiting and aggregation reads fail " +
       "loudly in BATCH (they would silently compile as global)") {
    def msgB(app: String): String =
      intercept[IllegalArgumentException](
        SiddhiQL.compileApp(spark, sf, app)).getMessage
    assert(msgB(
      """partition with (user_id of events)
        |begin
        |@info(name='q') from events[value > 100]
        |select event_id, value
        |output first every 5 events
        |insert into Out;
        |end""".stripMargin).contains("rate limiting inside a " +
      "partition block"))
    assert(msgB(
      """define aggregation AggByTime
        |from events select sum(value) as total
        |group by user_id aggregate by ts every minutes;
        |partition with (user_id of events)
        |begin
        |@info(name='q') from AggByTime
        |within 0, 4102444800000 per 'minutes'
        |select user_id, total insert into Out;
        |end""".stripMargin).contains("partitioned queries read the " +
      "partitioned stream"))
  }

  test("live frequent window folds through the shared FoldAlg algebra: " +
       "deployApp at 2 and 7 chunks == compileApp") {
    // list:get renders as try_element_at, so z sums an all-null
    // argument: null on both surfaces (SQL null semantics), never 0.
    // The second app adds avg, the surface the shared algebra opens
    // beyond count/sum/min/max.
    val items = "count() as n, sum(value) as s, min(value) as lo, " +
      "max(value) as hi, sum(list:get(list:create(value), 1)) as z"
    for (sel <- Seq(items, items + ", avg(value) as a")) {
      val app = "@info(name='q') from events#window.frequent(3, " +
        s"event_type) select event_type, $sel group by event_type " +
        "insert into O"
      def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.orderBy("event_type").collect().map(_.toSeq).toSeq
      val batch = rows(SiddhiQL.compileApp(spark, sf, app)("q"))
      assert(batch.length == 3 && batch.forall(_(5) == null))
      for (c <- Seq(2, 7)) {
        val live = rows(SiddhiQL.deployApp(spark, sf, app, "q",
          chunks = c))
        // sums of doubles re-associate across chunks
        val same = live.length == batch.length &&
          live.zip(batch).forall { case (l, b) =>
            l.length == b.length && l.zip(b).forall {
              case (x: Double, y: Double) =>
                math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
              case (x, y) => x == y
            }
          }
        assert(same, s"frequent live($c) $live != batch $batch")
      }
    }
  }

  test("live deployment diagnostics name each v1 bound") {
    def msg(app: String, out: String = "q"): String =
      intercept[IllegalArgumentException](
        SiddhiQL.deployApp(spark, sf, app, out)).getMessage
    // count-based first/last deploy live through the fold channel
    // now, and count-based `all` is the pass-through it is; a
    // count-based snapshot has no meaning and is named at parse
    assert(msg("@info(name='q') from events select event_id " +
      "output snapshot every 3 events insert into O")
      .contains("time-based"))
    // rate above a session aggregation
    assert(msg("@info(name='q') from events#window.session(2 min) " +
      "select user_id, count() as n group by user_id " +
      "output first every 1 min insert into O")
      .contains("stateless stages"))
    // rate above a delay window: refused by name, as compileApp's
    // rate-over-window path refuses it (it once returned every row,
    // un-rated)
    assert(msg("@info(name='q') from events#window.delay(1 min) " +
      "select event_id, value output first every 1 min insert into O")
      .contains("not above a delay window"))
    // rate inside a partition block: refused by name, as compileApp
    // refuses it (it once deployed as one global first-per-minute)
    assert(msg("partition with (user_id of events) begin " +
      "@info(name='q') from events[value > 100] select event_id, value " +
      "output first every 1 min insert into O; end")
      .contains("rate limiting inside a partition block"))
    // non-time join windows live
    assert(msg("@info(name='q') from events as a#window.length(5) " +
      "join events as b#window.time(1 min) on a.user_id == b.user_id " +
      "select a.event_id as x insert into O")
      .contains("window.time"))
    // aggregation above a live join deploys through the FoldAlg
    // algebra — since r11 over OUTER joins too (null-pads fold at
    // expiry; gated by sql_app_join_agg_outer_live). A remaining
    // named bound: rate limiting ABOVE a join aggregation
    assert(msg("@info(name='q') from events as a#window.time(1 min) " +
      "join events as b#window.time(1 min) " +
      "on a.user_id == b.user_id " +
      "select a.user_id as user_id, count() as n group by user_id " +
      "output first every 1 min insert into O")
      .contains("above a join aggregation"))
    // live text ABSENCE patterns deploy through the timed re-fold
    // (event-time timers; engine twins: Streaming.cepAbsence /
    // cepAbsenceTws) — the deployed matches equal the batch NOT-EXISTS
    // truth the cep_absence oracle encodes
    val liveAbs = SiddhiQL.deployApp(spark, sf,
      "@info(name='q') from every e1=events[event_type == 'error'] " +
        "-> not events[event_type == 'purchase' and " +
        "user_id == e1.user_id] for 5 min " +
        "select e1.user_id as user_id, e1.event_id as event_id " +
        "order by event_id insert into O", "q")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batchAbs = graft.engine.Cep.absence(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(liveAbs == batchAbs && liveAbs.nonEmpty)
    // live define aggregation now deploys (sql_app_incremental_live);
    // the v1 bound is the source: only the app's source stream folds
    assert(msg("define aggregation A from Foo select " +
      "sum(value) as t aggregate by ts_ns every min;\n" +
      "@info(name='q') from events select event_id insert into O")
      .contains("source stream 'events'"))
    // joining a live define-aggregation table names the read route
    assert(msg("define aggregation A from events select " +
      "sum(value) as t aggregate by ts_ns every min;\n" +
      "@info(name='q') from events as e join A " +
      "within 0, 9999999999999 per 'minutes' " +
      "on A.user_id == e.user_id select e.event_id as x insert into O")
      .contains("does not join"))
    // enrichment aggregation group keys must be stream-side
    val enrichAggApp = (key: String) =>
      "define table T (user_id long, v double);\n" +
      "@info(name='t') from events[event_type == 'click'] " +
      "select user_id, value as v " +
      "update or insert into T on T.user_id == user_id;\n" +
      "@info(name='q') from events as e[event_type == 'purchase'] " +
      s"join T on T.user_id == e.user_id select $key, " +
      "count() as n group by k insert into O"
    assert(msg(enrichAggApp("T.v as k")).contains("STREAM-side"))
    // enrichment aggregation deploys the full FoldAlg algebra (r10:
    // stdDev/distinctCount included), finish-time having, and — since
    // r11 — limit/offset composed at finish with the runner ordering
    val lim5 = SiddhiQL.deployApp(spark, sf,
      enrichAggApp("e.user_id as k").replace(
        "group by k insert into O",
        "group by k order by k limit 5 insert into O"), "q")
    assert(lim5.count() == 5, "finish-time limit must cap the groups")
    // windowed multi-writer tables: ALL-implicit-set,
    // ALL-accumulator-fold (r14) and implicit/fold SHAPE-mixed (r15)
    // JOIN reads all deploy (per-writer collapsed states + flush
    // partials feeding the one as-of pass — equality checked by the
    // sql_app_enrich_mixed_* / sql_app_enrich_shape_mix_win_live
    // gates); the remaining recorded bounds are INSERT members
    // (windowed event-log rows — batch composes via
    // sql_enrich_log_win; live refuses by name on both routes)
    val mixedWriters =
      "define table T (user_id long, v double);\n" +
        "@info(name='t0') from events[event_type == 'view'] " +
        "select user_id, value as v " +
        "update or insert into T on T.user_id == user_id;\n" +
        "@info(name='t') from events[event_type == 'click']" +
        "#window.timeBatch(10 min) select user_id, " +
        "math:round(sum(value), 2) as v group by user_id " +
        "update or insert into T on T.user_id == user_id;\n"
    // general expr-set member in a windowed group: the MIXED-branch
    // refusal (inserts and shape mixes compose since r15, so only
    // non-reconstructible set shapes remain refused here)
    val mixedExprWriters = mixedWriters.replace(
      "select user_id, value as v update or insert into T " +
        "on T.user_id == user_id;",
      "select user_id, value as v update or insert into T " +
        "set T.v = v * 2.0 on T.user_id == user_id;")
    assert(mixedExprWriters.contains("set T.v = v * 2.0"),
      "fixture rewrite must apply")
    assert(msg(mixedExprWriters +
        "@info(name='q') from events as e[event_type == 'purchase'] " +
        "join T on T.user_id == e.user_id " +
        "select e.event_id as x, T.v as v insert into O")
      .contains("accumulator-fold"))
    // the same mixed group READ at end-of-replay deploys and equals
    // the batch replay (flush emissions interleave between per-event
    // emissions by (ts, event_id, statement) — the shared merge tail)
    val mixedRead = mixedWriters +
      "@info(name='q') from T select user_id, math:round(v, 2) as v " +
      "order by user_id insert into O"
    val mixedBatch = SiddhiQL.compileApp(spark, sf,
      mixedRead)("q").collect().toSeq
    val mixedLive = SiddhiQL.deployApp(spark, sf,
      "define stream events (event_id long, ts_ns long, user_id " +
        "long, event_type string, value double);\n" + mixedRead, "q")
      .collect().toSeq
    assert(mixedLive == mixedBatch && mixedBatch.nonEmpty)
    // table DML live needs its `define table` declaration
    assert(msg("@info(name='q') from events select user_id, value " +
      "as last_value update or insert into T on T.user_id == user_id")
      .contains("not a defined table"))
    // deployAppOn (unstarted-DataFrame contract) cannot express the
    // foreachBatch table sink — deployApp runs it (sql_app_table_live)
    val dmlApp = "define table T (user_id long, last_value double);\n" +
      "@info(name='q') from events select user_id, value as last_value " +
      "update or insert into T on T.user_id == user_id"
    val raw = engine.Tables.events(spark, sf)
    val err = intercept[IllegalArgumentException](
      SiddhiQL.deployAppOn(raw, dmlApp, "q")).getMessage
    assert(err.contains("deployApp"))
    // nor can an unbounded stream take a limit/offset cut
    val cut = intercept[IllegalArgumentException](
      SiddhiQL.deployAppOn(raw, "@info(name='q') from events select " +
        "event_id order by event_id limit 5 insert into O", "q")).getMessage
    assert(cut.contains("limit") && cut.contains("unbounded stream"))
    // a mid-topology cut has no live meaning: compileApp keeps 5 rows,
    // a live run would have returned all 210
    assert(msg("@info(name='s') from events[event_type == 'click'] " +
      "select event_id, user_id, value order by event_id limit 5 " +
      "insert into S;\n@info(name='q') from S select event_id, value " +
      "insert into O").contains("stage 's' cuts mid-topology"))
  }

  test("expression window: sum-predicate fold matches the engine twin's " +
       "occupancy; diagnostics") {
    // the engine twin evaluates `count() < 10 and sum(cents) < 80000` in
    // exact integer cents; the text form uses raw double sums — with
    // 2-decimal inputs the two eviction traces agree unless a window sum
    // lands exactly on the 800.00 boundary (this dataset has none)
    val viaText = compile(
      """from events#window.expression('count() < 10 and
        |  sum(value) < 800.0')
        |select event_id, count() as occ
        |group by user_id
        |order by event_id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val twin = engine.Extras.expressionWindow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(viaText.length == twin.length && viaText.nonEmpty)
    assert(viaText.toSeq == twin.toSeq)
    val msg = intercept[IllegalArgumentException](compile(
      "from events#window.expression('count() < 5') " +
        "select event_id, count() as occ"))
      .getMessage
    assert(msg.contains("group by"))
  }

  test("`in Table` membership filters: semi, anti, and diagnostics") {
    import engine.Tables
    val ev = Tables.events(spark, sf)
    // same-named-column membership through the plain-query path
    val semi = compile(
      "from events[user_id in events] select event_id order by event_id")
      .count()
    assert(semi == ev.count())
    // anti: `not (... in T)` keeps only non-members of a DML-fed table
    val vip = ev.where(col("value") > 195).select("user_id").distinct()
    val antiOk = SiddhiQL.compileApp(spark, sf,
      """define table Vips (user_id long);
        |from events[value > 195.0] select user_id insert into Vips;
        |@info(name = 'rest')
        |from events[not (user_id in Vips)]
        |select event_id, user_id insert into Out""".stripMargin)("rest")
    val expect = ev.join(vip, Seq("user_id"), "left_anti").count()
    assert(antiOk.count() == expect && expect > 0)
    // membership inside a pattern predicate is diagnosed (the NFA
    // evaluates predicates executor-side, so the IAE arrives wrapped)
    val e = intercept[Exception](compile(
      "from e1=events[user_id in region] -> e2=events[value > 0] " +
        "select e1.event_id as a, e2.event_id as b").collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(e).contains("unsupported in"))
  }

  test("select * expands to the stream's full schema") {
    val df = compile("from events[value > 195] select * order by event_id")
    val direct = engine.Tables.events(spark, sf)
    assert(df.columns.toSeq == direct.columns.toSeq)
    assert(df.count() ==
      direct.where(col("value") > 195).count() && df.count() > 0)
    // `*` + named items compose; `*` in a pattern select is diagnosed
    assert(compile("from events select *, value * 2 as v2 limit 1")
      .columns.toSeq == direct.columns.toSeq :+ "v2")
    assert(intercept[IllegalArgumentException](compile(
      "from e1=events[value > 0] -> e2=events[value > 0] select *"))
      .getMessage.contains("select *"))
  }

  test("define function: JS-subset bodies compile, inline, and equal " +
    "the direct API; diagnostics name the problem") {
    val out = SiddhiQL.compileApp(spark, sf,
      """define function clamp[javascript] return double {
        |  return data[0] > data[1] ? data[1] : data[0];
        |};
        |define function score[javascript] return double {
        |  return Math.sqrt(clamp(data[0], 180.0)) * 10;
        |};
        |
        |@info(name = 'q')
        |from events[value > 100.0]
        |select event_id, score(value) as s
        |order by event_id
        |insert into Out""".stripMargin)("q")
    val direct = engine.Tables.events(spark, sf)
      .where(col("value") > 100.0)
      .select(col("event_id"),
        (sqrt(least(col("value"), lit(180.0))) * 10).as("s"))
      .orderBy("event_id")
    assert(out.collect().toSeq == direct.collect().toSeq)
    assert(out.count() > 0)
    // inlined, not a black box: the filter still reaches the parquet scan
    val physical = out.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(value), " +
      "GreaterThan(value,100.0)]"))

    def appMsg(app: String): String =
      intercept[IllegalArgumentException](
        SiddhiQL.compileApp(spark, sf, app)).getMessage
    // multi-statement bodies are out of the compiled subset
    assert(appMsg("define function f[javascript] return int { " +
      "var x = 1; return x; }").contains("single-`return"))
    // unsupported construct named
    assert(appMsg("define function f[javascript] return int { " +
      "return foo.bar(data[0]); }").contains("unsupported body construct"))
    // arity mismatch caught at the call site
    assert(appMsg("define function f[javascript] return int { " +
      "return data[0] + data[1]; };\n" +
      "from events select f(value) as x insert into O")
      .contains("takes 2 argument(s)"))
    // mutual recursion diagnosed, not a stack overflow
    assert(appMsg("define function a[javascript] return int { " +
      "return b(data[0]); };\n" +
      "define function b[javascript] return int { " +
      "return a(data[0]); };\n" +
      "from events select a(value) as x insert into O")
      .contains("recursive script functions"))
  }

  test("table DML diagnostics name the problem") {
    def appMsg(app: String): String =
      intercept[IllegalArgumentException](
        SiddhiQL.compileApp(spark, sf, app)).getMessage
    // DML against an undeclared table
    assert(appMsg(
      "from events select user_id delete Nope on Nope.user_id == user_id")
      .contains("not a defined table"))
    // non-equi `on` condition
    assert(appMsg(
      """define table T (user_id long, v double);
        |from events select user_id, value as v
        |update or insert into T on T.user_id > user_id""".stripMargin)
      .contains("conjunction"))
    // additive accumulator folds (`T.v = T.v + e`) now collapse
    // algebraically (round 9, sql_table_upsert_fold); only
    // order-dependent table-state RHS (multiplicative, cross-column)
    // stays refused
    assert(SiddhiQL.compileApp(spark, sf,
      """define table T (user_id long, v double);
        |@info(name = 'q') from events select user_id, value as v
        |update or insert into T set T.v = T.v + 1.0
        |on T.user_id == user_id""".stripMargin).nonEmpty)
    assert(appMsg(
      """define table T (user_id long, v double);
        |from events select user_id, value as v
        |update or insert into T set T.v = T.v * 2.0
        |on T.user_id == user_id""".stripMargin)
      .contains("not batch-replay collapsible"))
    // upsert select must cover the table schema
    assert(appMsg(
      """define table T (user_id long, v double, missing string);
        |from events select user_id, value as v
        |update or insert into T on T.user_id == user_id""".stripMargin)
      .contains("must cover every table column"))
    // DML outside an app context
    assert(intercept[IllegalArgumentException](compile(
      "from events select user_id delete T on T.user_id == user_id"))
      .getMessage.contains("needs an app context"))
  }

  test("live outer windowed joins (left/right/full) equal batch " +
       "replay and actually null-pad (non-vacuous)") {
    def pairsApp(jt: String) =
      s"""@info(name = 'pairs')
         |from events as a[event_type == 'error']#window.time(10 min)
         |  $jt
         |  events as b[event_type == 'purchase']#window.time(10 min)
         |  on a.user_id == b.user_id
         |select a.event_id as err_id, b.event_id as buy_id
         |order by err_id, buy_id
         |insert into Out""".stripMargin
    val inner = SiddhiQL.deployApp(spark, sf, pairsApp("join"), "pairs")
      .collect()
    def check(jt: String): Array[org.apache.spark.sql.Row] = {
      val live = SiddhiQL.deployApp(spark, sf, pairsApp(jt), "pairs")
        .collect()
      val batch = SiddhiQL.compileApp(spark, sf, pairsApp(jt))("pairs")
        .orderBy(col("err_id").asc, col("buy_id").asc).collect()
      assert(live.map(_.toSeq) sameElements batch.map(_.toSeq),
        s"$jt: live != batch replay")
      live
    }
    val left = check("left outer join")
    val right = check("right outer join")
    val full = check("full outer join")
    // non-vacuous: each outer direction adds null-padded rows beyond
    // the inner matches — a watermark that never fired would leave
    // them out and the comparison above would still pass on 0 == 0
    assert(left.count(_.isNullAt(1)) > 0, "left outer padded nothing")
    assert(right.count(_.isNullAt(0)) > 0, "right outer padded nothing")
    assert(full.length ==
      inner.length + left.count(_.isNullAt(1)) +
        right.count(_.isNullAt(0)),
      "full outer != inner + left-only + right-only")
  }

  test("live global aggregation runs UPDATE mode: per-trigger sink " +
       "volume tracks the batch's groups, not the total group count") {
    // group by event_id (unique per event): each micro-batch changes
    // only its own groups, so Update mode emits ~batch-size rows per
    // trigger; Complete mode would re-emit the whole cumulative table
    // (final trigger = total rows) and trip the bound below
    val app =
      """@info(name = 'g')
        |from events
        |select event_id, count() as n
        |group by event_id
        |order by event_id
        |insert into Out""".stripMargin
    val probe = scala.collection.mutable.Buffer.empty[Long]
    SiddhiQL.updateEmitProbe = Some(probe)
    try {
      val sc = spark.sparkContext
      val rdds0 = sc.getPersistentRDDs.keySet
      val scratch0 = foldScratch()
      val live = SiddhiQL.deployApp(spark, sf, app, "g", chunks = 10)
        .collect()
      // the upsert sink's generations: at most one per bucket (the
      // default 4) is still persisted, each trigger's cached batch is
      // released, and no per-trigger scratch dir was created
      val kept = sc.getPersistentRDDs.keySet -- rdds0
      assert(kept.size <= 4, s"${kept.size} RDDs still persisted")
      assert(foldScratch() -- scratch0 == Set.empty,
        s"update sink wrote scratch dirs: ${foldScratch() -- scratch0}")
      val total = live.length.toLong
      assert(total > 0 && probe.nonEmpty)
      assert(probe.sum >= total, "every group must be emitted at least once")
      val per = math.ceil(total / 10.0).toLong
      assert(probe.max <= 2 * per,
        s"a trigger emitted ${probe.max} rows for a ~$per-row batch — " +
          "Complete-mode re-emission, not Update mode")
      val batch = SiddhiQL.compileApp(spark, sf, app)("g").collect()
      assert(live.map(_.toSeq) sameElements batch.map(_.toSeq))
    } finally SiddhiQL.updateEmitProbe = None
  }

  test("percentile partial cap: log-uniform values over 12 decades " +
       "keep the pair array bounded, percentiles inside the 5% " +
       "tolerance (VERDICT r11 #7)") {
    // 60k values log-uniform over [1e-6, 1e6): 3-sig-digit
    // quantization fills ~900 quanta per decade, so the un-capped
    // run-length histogram would hold ~10 800 pairs — the cap must
    // hold it at pctlCapK while p50/p95 stay within the sketch
    // tolerance of the exact percentiles
    val vSql = "pow(10D, (id % 12000) / 1000.0 - 6D)"
    val df = spark.range(60000).selectExpr(s"$vSql as v", "id % 8 as g")
    val one = df.agg(expr(SiddhiQL.pctlCompressSql(
      s"sort_array(collect_list(${SiddhiQL.pctlQuantSql("v")}))"))
      .as("p"))
    val sz = one.select(size(col("p"))).head.getInt(0)
    assert(sz <= SiddhiQL.pctlCapK, s"partial ballooned to $sz pairs")
    assert(sz > 1000, "cap test vacuous — the histogram never grew")
    // chunked build + merge (the cascade's exact composition): 8
    // per-chunk partials compressed, then merged — still capped, and
    // the interpolated percentiles track the exact ones
    val merged = df.groupBy("g")
      .agg(expr(SiddhiQL.pctlCompressSql(
        s"sort_array(collect_list(${SiddhiQL.pctlQuantSql("v")}))"))
        .as("p"))
      .agg(expr(SiddhiQL.pctlMergeSql(
        "sort_array(flatten(collect_list(p)))")).as("m"))
    val r = merged.select(size(col("m")).as("msz"),
      expr(SiddhiQL.pctlFinalSql("m", 0.50)).as("p50"),
      expr(SiddhiQL.pctlFinalSql("m", 0.95)).as("p95")).head
    assert(r.getInt(0) <= SiddhiQL.pctlCapK,
      s"merged partial ballooned to ${r.getInt(0)} pairs")
    val ex = df.selectExpr("percentile(v, 0.5) as p50",
      "percentile(v, 0.95) as p95").head
    def relErr(a: Double, b: Double) = math.abs(a - b) / math.abs(b)
    assert(relErr(r.getDouble(1), ex.getDouble(0)) <= 0.05,
      s"p50 ${r.getDouble(1)} vs exact ${ex.getDouble(0)}")
    assert(relErr(r.getDouble(2), ex.getDouble(1)) <= 0.05,
      s"p95 ${r.getDouble(2)} vs exact ${ex.getDouble(1)}")
  }

  test("one-stage windowed-join aggregation compiles to the algebraic " +
       "fold: live == batch replay, == the chained two-query form") {
    val oneStage =
      """@info(name = 'agg')
        |from events as a[event_type == 'error']#window.time(10 min)
        |  join events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.user_id as user_id, count() as n,
        |  math:round(sum(b.value), 2) as total,
        |  math:round(avg(b.value), 2) as avg_v
        |group by user_id
        |order by user_id
        |insert into Out""".stripMargin
    val live = SiddhiQL.deployApp(spark, sf, oneStage, "agg")
      .collect().map(_.toSeq)
    assert(live.nonEmpty, "one-stage join-agg empty at test scale — " +
      "the gate would pass vacuously")
    val batch = SiddhiQL.compileApp(spark, sf, oneStage)("agg")
      .collect().map(_.toSeq)
    assert(live sameElements batch, "live fold != batch replay")
    // chunking-invariance: a different micro-batch split folds to the
    // same components
    val live7 = SiddhiQL.deployApp(spark, sf, oneStage, "agg",
      chunks = 7).collect().map(_.toSeq)
    assert(live7 sameElements batch)
    // outer + aggregate folds too (r11): null-pads join the fold at
    // watermark expiry (flush sentinels flush the tail), so the live
    // outer fold must equal the batch outer replay — which holds
    // strictly MORE groups/rows than the inner form (the unmatched
    // errors), proving the pads really participate
    val outerApp = oneStage.replace("\n  join", "\n  left outer join")
    val liveO = SiddhiQL.deployApp(spark, sf, outerApp, "agg")
      .collect().map(_.toSeq)
    val batchO = SiddhiQL.compileApp(spark, sf, outerApp)("agg")
      .collect().map(_.toSeq)
    assert(liveO sameElements batchO, "live outer fold != batch replay")
    assert(liveO.map(_.head).toSet.size > batch.map(_.head).toSet.size ||
      liveO.length > batch.length,
      "outer fold added no unmatched rows — pads never materialized")
    // right outer with a LEFT-side group key (ADVICE r11): an
    // unmatched right row pads the GROUP KEY itself to null — the
    // KeyedState probe hashes the null key deterministically and the
    // null-safe (<=>) merge folds the null-key group across triggers,
    // so live must equal batch INCLUDING the null-key group row
    val rightApp = oneStage.replace("\n  join", "\n  right outer join")
    val liveR = SiddhiQL.deployApp(spark, sf, rightApp, "agg")
      .collect().map(_.toSeq)
    val batchR = SiddhiQL.compileApp(spark, sf, rightApp)("agg")
      .collect().map(_.toSeq)
    assert(liveR sameElements batchR, "live right-outer fold != batch")
    assert(liveR.exists(_.head == null),
      "no null-key group — right-outer pads never reached the fold")
  }

  test("@OnError(action='STREAM'): !S carries the zero-divisor faults, " +
       "clean readers see the exact complement; diagnostics") {
    val app =
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
        |insert into Faults""".stripMargin
    val res = SiddhiQL.compileApp(spark, sf, app)
    val ok = res("ok").collect()
    val faults = res("faults").collect()
    val total = engine.Tables.events(spark, sf).count()
    assert(faults.nonEmpty, "no faulted rows at test scale — vacuous")
    assert(ok.nonEmpty)
    assert(ok.length + faults.length == total,
      "fault twin and clean stream must partition the source exactly")
    assert(faults.forall(_.getString(1) == "divide_by_zero"))
    // clean rows never carry a zero divisor
    assert(ok.forall(r => !r.isNullAt(1)))
    // LIVE deployment routes identically: the split is stateless
    // filters over the watermarked source
    val liveF = SiddhiQL.deployApp(spark, sf, app, "faults")
      .collect().map(_.toSeq)
    assert(liveF sameElements faults.map(_.toSeq))
    val liveOk = SiddhiQL.deployApp(spark, sf, app, "ok")
      .collect().map(_.toSeq)
    assert(liveOk sameElements ok.map(_.toSeq))
    // `from !S` without the annotation is diagnosed
    assert(intercept[IllegalArgumentException](
      SiddhiQL.compileApp(spark, sf,
        "@info(name='q') from !events select event_id insert into F"))
      .getMessage.contains("@OnError"))
  }

  test("event-log (cart) enrichment: segment join plans equi (no " +
       "nested loop), live == batch across chunkings") {
    val app =
      """define table Cart (user_id long, item long, v double);
        |@info(name = 'add')
        |from events[event_type == 'click']
        |select user_id, event_id as item, value as v
        |insert into Cart;
        |@info(name = 'clear')
        |from events[event_type == 'error' and value > 150.0]
        |select user_id
        |delete Cart on Cart.user_id == user_id;
        |@info(name = 'buy')
        |from events as e[event_type == 'purchase'] join Cart
        |  on Cart.user_id == e.user_id
        |select e.event_id as event_id, Cart.item as item
        |order by event_id, item
        |insert into Out""".stripMargin
    val batch = SiddhiQL.compileApp(spark, sf, app)("buy")
    val p = batch.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"log join degenerated:\n$p")
    val b = batch.collect().map(_.toSeq)
    assert(b.nonEmpty, "no cart rows at test scale — vacuous")
    // multiset: at least one purchase reads SEVERAL live rows
    assert(b.groupBy(_.head).exists(_._2.length > 1),
      "no multi-row cart at test scale — the multiset path is vacuous")
    val live = SiddhiQL.deployApp(spark, sf, app, "buy")
      .collect().map(_.toSeq)
    assert(live sameElements b, "live log join != batch replay")
    val live7 = SiddhiQL.deployApp(spark, sf, app, "buy", chunks = 7)
      .collect().map(_.toSeq)
    assert(live7 sameElements b, "log join is not chunking-invariant")
  }

  test("length-window stream-stream join: equi-sharded rank band " +
       "(no nested loop), unidirectional keeps the trigger direction") {
    val both = compile(
      """from events as a[event_type == 'error']#window.length(50)
        |  join events as b[event_type == 'purchase']#window.length(80)
        |  on a.user_id == b.user_id
        |select a.event_id as x, b.event_id as y
        |order by x, y""".stripMargin)
    val p = both.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"rank-band join degenerated:\n$p")
    val rows = both.collect()
    assert(rows.nonEmpty)
    // unidirectional (left triggers): exactly the pairs where the
    // PURCHASE was already retained when the error arrived — a strict
    // subset of the bidirectional result
    val uni = compile(
      """from events as a[event_type == 'error']#window.length(50)
        |  unidirectional
        |  join events as b[event_type == 'purchase']#window.length(80)
        |  on a.user_id == b.user_id
        |select a.event_id as x, b.event_id as y
        |order by x, y""".stripMargin).collect()
    assert(uni.nonEmpty && uni.length < rows.length)
    val all = rows.map(_.toSeq).toSet
    assert(uni.map(_.toSeq).forall(all.contains))
    // MIXED time x length sides compile too: each direction applies
    // the earlier side's own retention rule
    val mixed = compile(
      """from events as a[event_type == 'error']#window.length(50)
        |  join events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as x, b.event_id as y
        |order by x, y""".stripMargin)
    val pm = mixed.queryExecution.executedPlan.toString
    assert(!pm.contains("BroadcastNestedLoopJoin") &&
      !pm.contains("CartesianProduct"))
    val mrows = mixed.collect()
    assert(mrows.nonEmpty)
    // direction check: pairs where the error is LATER obey b's TIME
    // retention; the time-time and length-length twins bound the sets
    val timeBoth = compile(
      """from events as a[event_type == 'error']#window.time(10 min)
        |  join events as b[event_type == 'purchase']#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as x, b.event_id as y
        |order by x, y""".stripMargin).collect().map(_.toSeq).toSet
    val lenBoth = compile(
      """from events as a[event_type == 'error']#window.length(50)
        |  join events as b[event_type == 'purchase']#window.length(50)
        |  on a.user_id == b.user_id
        |select a.event_id as x, b.event_id as y
        |order by x, y""".stripMargin).collect().map(_.toSeq).toSet
    assert(mrows.map(_.toSeq).forall(r =>
      timeBoth.contains(r) || lenBoth.contains(r)),
      "mixed join emitted a pair neither retention rule justifies")
  }

  test("count-based rate live fold is chunking-invariant and equals " +
       "the batch rank semantics") {
    def app(mode: String) =
      s"""@info(name = 'q')
         |from events[value > 100.0]
         |select event_id, user_id
         |order by event_id
         |output $mode every 5 events
         |insert into Out""".stripMargin
    // the outer-join form (sql_rate_join_outer_count): null-pads
    // materialize at watermark expiry, after later pairs, so the live
    // fold accumulates the emissions and selects once at finish —
    // `last` keeps the partial tail, as the batch max-rank pick does
    def outer(rate: String) =
      s"""@info(name = 'q')
         |from events as a[event_type == 'error']#window.time(10 min)
         |  left outer join
         |  events as b[event_type == 'purchase']#window.time(10 min)
         |  on a.user_id == b.user_id
         |select a.event_id as err_id,
         |  coalesce(b.event_id, convert(-1, 'long')) as buy_id,
         |  a.user_id as user_id
         |output $rate
         |order by err_id, buy_id
         |insert into Out""".stripMargin
    val pairs = SiddhiQL.compileApp(spark, sf,
      outer("all every 1 min"))("q").count()
    assert(pairs % 7 != 0, s"$pairs pairs leave no partial tail of 7")
    for (q <- Seq(app("first"), app("last"),
        outer("first every 7 events"), outer("last every 7 events"))) {
      val batch = SiddhiQL.compileApp(spark, sf, q)("q")
        .collect().map(_.toSeq)
      val live4 = SiddhiQL.deployApp(spark, sf, q, "q")
        .collect().map(_.toSeq)
      val live7 = SiddhiQL.deployApp(spark, sf, q, "q", chunks = 7)
        .collect().map(_.toSeq)
      assert(batch.nonEmpty)
      assert(live4 sameElements batch, s"$q\nlive(4) != batch")
      assert(live7 sameElements batch, s"$q\nlive(7) != batch")
    }
  }

  test("rate limiting composes with windowed aggregations and joins: " +
       "flush-row / pair-emission semantics; diagnostics name bounds") {
    // flush downsample: last 1-min flush per 10-min interval == the
    // direct Spark computation over bucketed aggregates
    val r = compile(
      """from events[event_type == 'view']#window.timeBatch(1 min)
        |select math:round(sum(value), 2) as total, count() as n
        |output last every 10 min
        |order by w_end_ms""".stripMargin).collect()
    val exp = engine.Tables.events(spark, sf)
      .where(col("event_type") === "view")
      .groupBy(expr("ts_ns div 60000000000").as("b"))
      .agg(round(sum("value"), 2).as("total"), count(lit(1)).as("n"))
      .withColumn("rn", expr("row_number() over (partition by " +
        "((b + 1) * 60000) div 600000 order by b desc)"))
      .where(col("rn") === 1)
      .select(expr("(b + 1) * 60000").as("w_end_ms"), col("total"),
        col("n"))
      .orderBy("w_end_ms").collect()
    assert(r.nonEmpty, "no flush rows at test scale — vacuous")
    assert(r.map(_.toSeq).toSeq == exp.map(_.toSeq).toSeq,
      "rated flush rows diverge from the direct computation")
    // LIVE: the deployed downsample folds flush partials per trigger
    // and runs the same batch selection at finish — chunking-invariant
    val app =
      """@info(name = 'downsample')
        |from events[event_type == 'view']#window.timeBatch(1 min)
        |select math:round(sum(value), 2) as total, count() as n
        |output last every 10 min
        |order by w_end_ms
        |insert into Out""".stripMargin
    for (c <- Seq(4, 7)) {
      val live = SiddhiQL.deployApp(spark, sf, app, "downsample",
        chunks = c).collect()
      assert(live.map(_.toSeq).toSeq == r.map(_.toSeq).toSeq,
        s"live($c) != batch rate-over-window")
    }
    // an aggregate without a window names the fix; grouped windowed
    // rates and join snapshots are refused by name; a join rate needs
    // aliased stream sides
    val m1 = intercept[IllegalArgumentException](compile(
      "from events select sum(value) as s output last every 1 min"))
      .getMessage
    assert(m1.contains("timeBatch"))
    val m2 = intercept[IllegalArgumentException](compile(
      """from events#window.timeBatch(1 min)
        |select user_id, sum(value) as s
        |group by user_id
        |output last every 10 min""".stripMargin)).getMessage
    // names only the ungrouped bound: a rated query inside a partition
    // block is refused too, so `partition with` is no way out
    assert(m2.contains("ungrouped") && !m2.contains("partition with"))
    val m3 = intercept[IllegalArgumentException](compile(
      """from events as a#window.time(10 min)
        |  join events as b#window.time(10 min)
        |  on a.user_id == b.user_id
        |select a.event_id as x, b.event_id as y
        |output snapshot every 10 min""".stripMargin)).getMessage
    assert(m3.contains("over a join"))
  }

  test("inner enrichment join auto-swaps a table on the LEFT; outer " +
       "keeps the stream-left convention, named") {
    val base = "define table U (user_id long, v double);\n" +
      "@info(name='t') from events[event_type == 'click'] " +
      "select user_id, value as v " +
      "update or insert into U on U.user_id == user_id;\n"
    val left = SiddhiQL.compileApp(spark, sf, base +
      "@info(name='q') from U join events as e[event_type == 'purchase'] " +
      "on U.user_id == e.user_id " +
      "select e.event_id as id, math:round(U.v, 2) as v " +
      "order by id insert into Out")("q").collect().toSeq
    val right = SiddhiQL.compileApp(spark, sf, base +
      "@info(name='q') from events as e[event_type == 'purchase'] " +
      "join U on U.user_id == e.user_id " +
      "select e.event_id as id, math:round(U.v, 2) as v " +
      "order by id insert into Out")("q").collect().toSeq
    assert(left.nonEmpty && left == right)
    assert(intercept[IllegalArgumentException](SiddhiQL.compileApp(
      spark, sf, base +
        "@info(name='q') from U left outer join events " +
        "as e[event_type == 'purchase'] on U.user_id == e.user_id " +
        "select e.event_id as id, math:round(U.v, 2) as v " +
        "insert into Out")).getMessage.contains("RIGHT side"))
  }

  test("r11 constructions plan distributed: tombstone merge and as-of " +
       "flush join have no cartesian/BNLJ and no single-task window") {
    // the 100-TB judgment on the round's new machinery: the tombstone
    // path is one keyed aggregation + keyed joins; the as-of flush
    // join is ONE keyed window pass over a union — neither may plan a
    // cartesian product, a broadcast nested loop, or an unpartitioned
    // data-sized window
    for (n <- Seq("sql_table_delete", "sql_enrich_window_asof",
        "sql_rate_join_outer")) {
      val p = engine.SqlGate.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoop"),
        s"$n plans a broadcast nested loop:\n$p")
      assert(!p.contains("windowspecdefinition(ts_ns"),
        s"$n plans a global single-task window:\n$p")
    }
  }

  test("tombstone multi-writer merge (upsert + delete) and per-event " +
       "as-of windowed-writer reads are chunking-invariant") {
    // the two r11 fold channels replayed at several trigger counts
    // must equal the batch compile bit-for-bit — the tombstone
    // interleave and the flush-visibility as-of both depend only on
    // each row's own (ts, event_id, statement) position, never on
    // trigger boundaries
    val mixed =
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
        |delete Active on Active.user_id == user_id""".stripMargin
    val mShape = Seq("user_id", "round(last_value, 2) as last_value")
    val mBatch = SiddhiQL.compileApp(spark, sf, mixed)("purge")
      .selectExpr(mShape: _*).orderBy("user_id").collect().map(_.toSeq)
    assert(mBatch.nonEmpty)
    for (c <- Seq(3, 7)) {
      val live = SiddhiQL.deployApp(spark, sf, mixed, "purge",
        chunks = c).selectExpr(mShape: _*).orderBy("user_id")
        .collect().map(_.toSeq)
      assert(live sameElements mBatch, s"tombstone live($c) != batch")
    }
    val asof =
      """define table WinStats (user_id long, cnt long, total double);
        |
        |@info(name = 'roll')
        |from events[event_type == 'click']#window.timeBatch(10 min)
        |select user_id, count() as cnt,
        |  math:round(sum(value), 2) as total
        |group by user_id
        |update or insert into WinStats on WinStats.user_id == user_id;
        |
        |@info(name = 'read')
        |from events as e[event_type == 'purchase'] join WinStats
        |  on WinStats.user_id == e.user_id
        |select e.event_id as event_id, WinStats.cnt as clicks
        |order by event_id
        |insert into Out""".stripMargin
    val aBatch = SiddhiQL.compileApp(spark, sf, asof)("read")
      .collect().map(_.toSeq)
    assert(aBatch.nonEmpty)
    // 10-min flush buckets straddle chunk boundaries at both splits —
    // a per-batch flush recompute (instead of the partial-state merge)
    // would mis-time flush visibility across the straddle
    for (c <- Seq(3, 7)) {
      val live = SiddhiQL.deployApp(spark, sf, asof, "read", chunks = c)
        .collect().map(_.toSeq)
      assert(live sameElements aBatch, s"as-of live($c) != batch")
    }
  }

  test("multi-writer table DML: interleaved last-wins beats " +
       "statement-sequential replay; diagnostics name the bounds") {
    // the semantic the r10 merge exists for: a user whose LATEST event
    // is a click must keep the click writer's row even though the buy
    // writer is a LATER STATEMENT — sequential statement-at-a-time
    // application would let the buy writer's stale update win
    val out = SiddhiQL.compileApp(spark, sf,
      """define table T (user_id long, v double, src string);
        |@info(name='a') from events[event_type == 'click']
        |select user_id, value as v, 'click' as src
        |update or insert into T on T.user_id == user_id;
        |@info(name='b') from events[event_type == 'purchase']
        |select user_id, value as v, 'buy' as src
        |update or insert into T on T.user_id == user_id;
        |@info(name='q') from T select user_id, src
        |order by user_id insert into Out""".stripMargin)("q")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val truth = engine.Tables.events(spark, sf)
      .where(col("event_type").isin("click", "purchase"))
      .withColumn("rn", expr("row_number() over (partition by user_id " +
        "order by ts_ns desc, event_id desc)"))
      .where(col("rn") === 1)
      .select(col("user_id"), when(col("event_type") === "click",
        "click").otherwise("buy").as("src"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == truth && out.valuesIterator.toSet.size == 2,
      "interleaved last-wins must reflect the truly latest event " +
        "across writers (and the fixture must exercise both)")
    // upsert+delete composes since r11 (tombstone emissions — the
    // sql_table_delete gate), insert+delete since r12
    // (sql_table_insert_delete), insert + IMPLICIT-SET upsert since
    // r13 (sql_table_insert_upsert — the multiset last-upsert
    // overlay), and insert + ACCUMULATOR-FOLD upsert since r14
    // (sql_table_insert_fold + live twin — the fold delta adds to
    // every live row of its key; total-minus-prefix, key-local): the
    // former live fail-fast flips to a positive equivalence check
    def msg(app: String): String =
      intercept[IllegalArgumentException](
        SiddhiQL.compileApp(spark, sf, app)).getMessage
    locally {
      // LONG fold column: exact arithmetic, so live == batch is
      // byte-comparable (a double fold reassociates partial sums
      // across trigger boundaries — last-bit float drift, which is
      // why the double-valued gates round in a read stage)
      val appIF =
        """define stream events (event_id long, ts_ns long,
          |  user_id long, event_type string, value double);
          |define table T (user_id long, n long);
          |@info(name='a') from events[event_type == 'click']
          |select user_id, convert(2, 'long') as n
          |update or insert into T set T.n = T.n + n
          |  on T.user_id == user_id;
          |@info(name='b') from events[event_type == 'purchase']
          |select user_id, convert(1, 'long') as n
          |insert into T""".stripMargin
      val liveIF = SiddhiQL.deployApp(spark, sf, appIF, "b")
        .collect().map(_.toSeq).sortBy(_.toString)
      val batchIF = SiddhiQL.compileApp(spark, sf, appIF)("b")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(liveIF.nonEmpty && (liveIF sameElements batchIF),
        s"insert+fold live=${liveIF.length} batch=${batchIF.length}")
    }
    // key-column mismatch is diagnosed
    assert(msg(
      """define table T (user_id long, v double);
        |@info(name='a') from events[event_type == 'click']
        |select user_id, value as v
        |update or insert into T on T.user_id == user_id;
        |@info(name='b') from events[event_type == 'purchase']
        |select user_id, value as v
        |update or insert into T on T.v == value""".stripMargin)
      .contains("same table columns"))
    // differing fold specs are diagnosed
    assert(msg(
      """define table T (user_id long, v double);
        |@info(name='a') from events[event_type == 'click']
        |select user_id, value as v
        |update or insert into T set T.v = T.v + v
        |  on T.user_id == user_id;
        |@info(name='b') from events[event_type == 'purchase']
        |select user_id, value as v
        |update or insert into T set T.v = T.v - v
        |  on T.user_id == user_id""".stripMargin)
      .contains("same operators"))
  }

  test("windowed-aggregate table DML (the store pattern): live fold " +
       "merges straddling buckets componentwise — chunking-invariant " +
       "and equal to batch; diagnostics name the bounds") {
    val dml =
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
        |  on Acc.user_id == user_id""".stripMargin
    // totals round to 2dp: the live fold adds per-trigger partial sums
    // in a different order than the batch's one global sum, and float
    // addition is not associative (the same convention the gates use)
    val shape = Seq("user_id", "flushes", "round(total, 2) as total")
    val batch = SiddhiQL.compileApp(spark, sf, dml)("roll")
      .selectExpr(shape: _*).orderBy("user_id").collect().map(_.toSeq)
    assert(batch.nonEmpty, "no flush rows at test scale — vacuous")
    // a 10-min bucket spans several size-based chunks at both splits:
    // per-batch applyDml would double-count `flushes` per straddle
    for (c <- Seq(4, 7)) {
      val live = SiddhiQL.deployApp(spark, sf, dml, "roll", chunks = c)
        .selectExpr(shape: _*).orderBy("user_id").collect().map(_.toSeq)
      assert(live sameElements batch, s"live($c) != batch replay")
    }
    // flushes == the user's distinct 10-min buckets (insert row is 1,
    // each later flush folds +1): cross-check against raw Spark
    val exp = engine.Tables.events(spark, sf)
      .where(col("event_type") === "click")
      .select(expr("ts_ns div 600000000000").as("b"), col("user_id"))
      .distinct().groupBy("user_id").count()
      .orderBy("user_id").collect().map(_.getLong(1))
    assert(batch.map(_(1).asInstanceOf[Long]).toSeq == exp.toSeq)
    // diagnostics: sliding windows have no flush emissions; non-agg
    // select items must be grouped. (A windowed writer FEEDING an
    // enrichment join deploys since r11 with PER-EVENT as-of
    // semantics — gated by sql_enrich_window_asof +
    // sql_app_enrich_window_live; the remaining bound is aggregation
    // above that join.)
    val m1 = intercept[IllegalArgumentException](SiddhiQL.compileApp(
      spark, sf, dml.replace("timeBatch(10 min)", "time(10 min)")))
      .getMessage
    assert(m1.contains("timeBatch"))
    val m2 = intercept[IllegalArgumentException](SiddhiQL.compileApp(
      spark, sf, dml.replace("group by user_id\n", ""))).getMessage
    assert(m2.contains("group-by"))
    // aggregation ABOVE the windowed-writer as-of join deploys (r11):
    // n per user = purchases with at least one CLOSED click bucket at
    // their timestamp — checked against a direct Spark as-of recompute
    val liveAgg = SiddhiQL.deployApp(spark, sf, dml +
        """;
          |
          |@info(name = 'enrich')
          |from events as e[event_type == 'purchase'] join Acc
          |  on Acc.user_id == e.user_id
          |select e.user_id as user_id, count() as n
          |group by user_id
          |order by user_id
          |insert into Out""".stripMargin, "enrich")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ev = engine.Tables.events(spark, sf)
    val fl = ev.where(col("event_type") === "click")
      .select(expr("ts_ns div 600000000000").as("b"), col("user_id"))
      .distinct()
    val pur = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns"), col("event_id"))
    val truth = pur.join(fl,
        pur("user_id") === fl("user_id") &&
          (fl("b") + 1) * lit(600000000000L) <= pur("ts_ns"),
        "left_semi")
      .groupBy("user_id").count().orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(liveAgg.nonEmpty && liveAgg == truth,
      "windowed-writer enrich-agg != the as-of truth")
  }

  test("window arg-count guards: extra timeBatch/externalTimeBatch " +
       "arguments fail NAMED instead of silently mis-bucketing " +
       "(r16; r17 supports the timeBatch start-time second arg)") {
    def msgW(q: String): String =
      intercept[IllegalArgumentException](compile(q)).getMessage
    // timeBatch now takes (period[, start-time]); a third argument
    // still fails at parse
    assert(msgW("from events#window.timeBatch(10 min, 5, 7) " +
      "select count() as n insert into Out")
      .contains("start-time offset"))
    assert(msgW("from events#window.time(10 min, 5) " +
      "select event_id order by event_id insert into Out")
      .contains("exactly one argument"))
    assert(msgW("from events#window.externalTimeBatch(ts_ns, 10 min, " +
      "5) select count() as n insert into Out")
      .contains("start-time / timeout"))
    assert(msgW("from events#window.timeLength(2 min) " +
      "select event_id order by event_id insert into Out")
      .contains("(duration, count)"))
    // the supported shapes still parse
    assert(compile("from events#window.timeBatch(10 min) " +
      "select count() as n insert into Out").collect().nonEmpty)
  }

  test("r17 breadth audit: multi-attribute sort, composite-key " +
       "unique windows, unique:ever — live == batch; expired-events " +
       "selector fails NAMED") {
    def liveEq(app: String, out: String): Unit = {
      val batch = SiddhiQL.compileApp(spark, sf, app)(out)
        .collect().toSeq
      val live = SiddhiQL.deployApp(spark, sf,
        "define stream events (event_id long, ts_ns long, user_id " +
          "long, event_type string, value double);\n" + app, out,
        chunks = 2).collect().toSeq
      assert(batch.nonEmpty && live == batch,
        s"$out: live (${live.size}) != batch (${batch.size})")
    }
    // multi-attribute sort comparator: second attribute + direction
    // must influence the kept set identically on both surfaces
    liveEq(
      """@info(name='s')
        |from events#window.sort(40, user_id, 'asc', value, 'desc')
        |select event_id, user_id, value
        |order by event_id insert into Out""".stripMargin, "s")
    // composite-key unique:first
    liveEq(
      """@info(name='u')
        |from events#window.unique:first(user_id, event_type)
        |select event_id, user_id, event_type
        |order by event_id insert into Out""".stripMargin, "u")
    // unique:ever == keep-latest-per-composite-key, live fold
    liveEq(
      """@info(name='e')
        |from events#window.unique:ever(user_id, event_type)
        |select user_id, event_type, value
        |order by user_id, event_type insert into Out""".stripMargin,
      "e")
    // a second attribute must CHANGE the result vs the single-key
    // form (guards against the pre-r17 silent drop coming back)
    val multi = SiddhiQL.compileApp(spark, sf,
      """@info(name='u') from events#window.unique:first(user_id,
        |event_type) select count() as n insert into Out""".stripMargin)(
      "u").collect().head.getLong(0)
    val single = SiddhiQL.compileApp(spark, sf,
      """@info(name='u') from events#window.unique:first(user_id)
        |select count() as n insert into Out""".stripMargin)(
      "u").collect().head.getLong(0)
    assert(multi > single,
      s"composite key must keep more rows ($multi vs $single)")
    // output-event selectors: current accepted (the default),
    // expired/all named
    assert(SiddhiQL.compile(spark, sf,
      "from events[value > 120] select event_id " +
        "order by event_id insert current events into Out")
      .collect().nonEmpty)
    val m = intercept[IllegalArgumentException](SiddhiQL.compile(
      spark, sf, "from events#window.timeBatch(1 min) " +
        "select count() as n insert expired events into Out"))
      .getMessage
    assert(m.contains("expired/all events"), m)
  }

  test("start-time aligned timeBatch (r17): supported on the plain " +
       "windowed aggregation; every other consumer fails NAMED") {
    // supported: plain windowed aggregation, batch compile — aligned
    // buckets start at epoch + k·10min + 3min
    val aligned = compile("from events#window.timeBatch(10 min, 3 min) " +
      "select count() as n group by user_id " +
      "order by w_start_ms, user_id insert into Out").collect()
    assert(aligned.nonEmpty &&
      aligned.forall(_.getAs[Long]("w_start_ms") % 600000L == 180000L),
      "aligned buckets must start at epoch + k*T + 3 min")
    // an offset that is a multiple of the period IS epoch-aligned —
    // normalization keeps every consumer available
    assert(compile("from events#window.timeBatch(10 min, 20 min) " +
      "select count() as n group by user_id " +
      "order by w_start_ms, user_id insert into Out")
      .collect().forall(_.getAs[Long]("w_start_ms") % 600000L == 0L))
    def msgA(app: String, out: String): String =
      intercept[IllegalArgumentException](
        SiddhiQL.compileApp(spark, sf, app)(out)).getMessage
    // DML writer windows refuse the offset by name
    assert(msgA(
      """define table T1 (user_id long, total double);
        |@info(name = 'w')
        |from events#window.timeBatch(10 min, 3 min)
        |select user_id, sum(value) as total group by user_id
        |update or insert into T1 on T1.user_id == user_id""".stripMargin,
      "w").contains("start-time aligned timeBatch"))
    // stream-stream join sides refuse it by name
    assert(msgA(
      """@info(name = 'j')
        |from events as a[event_type == 'click']
        |#window.timeBatch(10 min, 3 min) join
        |events as b[event_type == 'purchase']#window.timeBatch(10 min)
        |on a.user_id == b.user_id
        |select a.event_id as ae, b.event_id as be
        |order by ae, be insert into Out""".stripMargin,
      "j").contains("start-time aligned timeBatch"))
  }

  test("named-window JOIN sides rewrite to fed-stream#spec on both " +
       "surfaces: live == batch (r16)") {
    val app =
      """define window ErrW (event_id long, ts_ns long, user_id long,
        |  event_type string, value double) timeBatch(10 min);
        |define window BuyW (event_id long, ts_ns long, user_id long,
        |  event_type string, value double) timeBatch(10 min);
        |@info(name = 'fe')
        |from events[event_type == 'error']
        |select event_id, ts_ns, user_id, event_type, value
        |insert into ErrW;
        |@info(name = 'fb')
        |from events[event_type == 'purchase']
        |select event_id, ts_ns, user_id, event_type, value
        |insert into BuyW;
        |@info(name = 'pairs')
        |from ErrW as a join BuyW as b
        |  on a.user_id == b.user_id
        |select a.event_id as err_id, b.event_id as buy_id
        |order by err_id, buy_id
        |insert into Out""".stripMargin
    val batch = SiddhiQL.compileApp(spark, sf, app)("pairs")
      .collect().toSeq
    val live = SiddhiQL.deployApp(spark, sf,
      "define stream events (event_id long, ts_ns long, user_id " +
        "long, event_type string, value double);\n" + app, "pairs")
      .collect().toSeq
    assert(batch.nonEmpty && live == batch,
      s"named-window join live (${live.size}) != batch (${batch.size})")
  }

  test("on-demand DML guards: live refusal, writer-after-mutation, " +
       "enrichment read of a mutated table all fail NAMED (r16)") {
    // the point-in-time mutation composes with store reads only; the
    // gated arms (sql_store_update/delete) pin the green path
    val writer =
      """define table OD (user_id long, v double);
        |from events
        |select user_id, value as v
        |update or insert into OD on OD.user_id == user_id;
        |""".stripMargin
    val mut = "update OD set OD.v = 0.0 on OD.v > 150.0;\n"
    def msg(app: String, live: Boolean = false): String =
      intercept[IllegalArgumentException] {
        if (live) SiddhiQL.deployApp(spark, sf,
          "define stream events (event_id long, ts_ns long, user_id " +
            "long, event_type string, value double);\n" + app, "q")
        else SiddhiQL.compileApp(spark, sf, app)
      }.getMessage
    assert(msg(writer + mut +
      "@info(name='q') from events select user_id, value as v " +
      "update or insert into OD on OD.user_id == user_id", live = true)
      .contains("point-in-time"))
    assert(msg(writer + mut +
      "@info(name='q') from events select user_id, value as v " +
      "update or insert into OD on OD.user_id == user_id")
      .contains("move the on-demand"))
    assert(msg(writer + mut +
      "@info(name='q') from events as e join OD on OD.user_id == " +
      "e.user_id select e.event_id as event_id, OD.v as v " +
      "order by event_id insert into Out")
      .contains("store form"))
    // mutating a non-table fails named; a never-fed table is a legal
    // no-op (Siddhi's query() matching nothing)
    assert(msg("update events set events.value = 0.0 on value > 1.0")
      .contains("defined table"))
    val noop = SiddhiQL.compileApp(spark, sf,
      "define table OD (user_id long, v double);\n" + mut)
    assert(noop.values.exists(_.isEmpty),
      "never-fed on-demand mutation should yield the empty table")
    // duplicate SET targets fail named instead of last-wins (r17)
    assert(msg(writer +
      "update OD set OD.v = 0.0, OD.v = 1.0 on OD.v > 150.0")
      .contains("more than once"))
    // delete keeps NULL-condition rows, matching the update arm's
    // when/otherwise null semantics (r17): v null ⇒ v > 150 is NULL
    // ⇒ the row survives the delete
    val kept = SiddhiQL.compileApp(spark, sf,
      """define table ODN (user_id long, v double);
        |@info(name='seed') from events[event_type == 'click']
        |select user_id, ifThenElse(user_id % 2 == 0,
        |  convert(str:split('a', ',', 5), 'double'), value) as v
        |update or insert into ODN on ODN.user_id == user_id;
        |delete ODN on ODN.v > -999999.0;
        |""".stripMargin)
    val tail = kept("q1")
    assert(tail.count() > 0 && tail.filter(col("v").isNull).count()
        == tail.count(),
      "delete must keep exactly the NULL-condition rows")
  }

  test("live deployment refuses each unreadable feed at deploy time, " +
       "naming the stream and its use") {
    val agg = "@info(name='a') from events#window.timeBatch(1 min) " +
      "select user_id, count() as n group by user_id insert into A;\n"
    val table = "define table U (user_id long, v double);\n" +
      "@info(name='t') from events select user_id, value as v " +
      "update or insert into U on U.user_id == user_id;\n"
    def part(src: String, q: String): String =
      s"partition with (user_id of $src) begin @info(name='q') $q end"
    // (app, fragments the refusal must name)
    val cases = Seq(
      "@info(name='q') from Nope select event_id insert into O" ->
        Seq("'Nope'", "a further stage", "neither the source"),
      agg + "@info(name='q') from A select user_id insert into O" ->
        Seq("'A'", "aggregation output", "a further stage"),
      table + agg + "@info(name='q') from A select user_id, " +
        "convert(n, 'double') as v insert into U" ->
        Seq("'A'", "aggregation output", "table DML"),
      agg + "@info(name='q') from events as e#window.time(1 min) " +
        "join A as x#window.time(1 min) on e.user_id == x.user_id " +
        "select e.event_id as id insert into O" ->
        Seq("'A'", "aggregation output", "a join"),
      agg + part("A", "from A select user_id insert into O") ->
        Seq("'A'", "aggregation output", "a partition block"),
      table + agg + "@info(name='q') from A as s join U " +
        "on U.user_id == s.user_id select s.user_id as u, U.v as v " +
        "insert into O" ->
        Seq("'A'", "aggregation output", "an enrichment join"),
      // stored reads inside a partition block: a trigger or an
      // aggregation is no declared stream, a table is no stream at
      // all, and a block holds no join
      "define trigger T at every 10 min;\n" +
        part("T", "from T select tick_ms insert into O") ->
        Seq("'T'", "a partition block", "neither the source"),
      "define aggregation G from events select sum(value) as total " +
        "group by user_id aggregate by ts_ns every sec ... min;\n" +
        part("G", "from G within 0, 4102444800000 per 'min' select " +
          "user_id, total insert into O") ->
        Seq("'G'", "a partition block", "neither the source"),
      table + part("U", "from U select user_id, v insert into O") ->
        Seq("'U'", "a partition block"),
      table + part("events", "from events as e join U on U.user_id " +
        "== e.user_id select e.user_id as u, U.v as v insert into O") ->
        Seq("'events' joins 'U'", "partition blocks hold single-stream"),
      // the one partition check: a trigger that shares a stream's name
      "define trigger S at every 10 min;\n@info(name='s') from events " +
        "select event_id, ts_ns, user_id, event_type, value " +
        "insert into S;\n" + part("S", "from S select user_id " +
          "insert into O") ->
        Seq("a trigger read of 'S' inside a partition block is not " +
          "deployed"))
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.streaming
        .StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try cases.foreach { case (app, frags) =>
      val m = intercept[IllegalArgumentException](
        SiddhiQL.deployApp(spark, sf, app, "q")).getMessage
      frags.foreach(f => assert(m.contains(f), s"'$f' not in: $m"))
    } finally spark.streams.removeListener(listener)
    assert(started.get == 0, "a refused app started a streaming query")
  }
}
