package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.api.SiddhiQL

/** One benchmark call: a public engine entry point on the workload's
  * generated input directory (see run.py). `table` is the table whose
  * rows count as the call's input events. `oracle` is the
  * `SparkEntry.oracleSql` key the result must match; `twin`, when set,
  * is the batch replay (`compileApp` of the same app text) a live result
  * must equal. `siddhiql` marks calls that go through the SiddhiQL
  * compiler, `live` calls that run Structured Streaming. */
final case class Call(name: String, table: String, oracle: String,
    live: Boolean, siddhiql: Boolean,
    run: (SparkSession, String) => DataFrame,
    twin: Option[(SparkSession, String) => DataFrame] = None)

/** The workloads (SPEC.md says why each). App texts are the registry's (`graft.engine.
  * SqlGate`) entries of the same oracle name, kept here verbatim because
  * the benchmark deploys the text itself, as a user would, and needs the
  * same text for the batch twin. */
object Workloads {

  /** A SiddhiQL app deployed live with its batch twin. `post` is the
    * registry entry's projection of the output stream. */
  private def app(name: String, text: String, out: String,
      post: DataFrame => DataFrame = identity): Call =
    Call(name, "events", name, live = true, siddhiql = true,
      (s, d) => post(SiddhiQL.deployApp(s, d, text, out)),
      Some((s, d) => post(SiddhiQL.compileApp(s, d, text)(out))))

  /** The batch twin of a live app, run as a workload call of its own. */
  private def batchOf(c: Call): Call =
    Call("batch:" + c.name, c.table, c.oracle, live = false,
      siddhiql = true, c.twin.get)

  /** A registry query (`SparkEntry.queries`). */
  private def registry(name: String, table: String, live: Boolean): Call =
    Call(name, table, name, live, siddhiql = false,
      (s, d) => SparkEntry.queries(name)(s, d))

  private val EventsDecl =
    """define stream events (event_id long, ts_ns long, user_id long,
      |  event_type string, value double);
      |""".stripMargin

  private val tableUpsert = app("sql_app_table_live",
    EventsDecl +
    """define table UserState (user_id long, last_value double,
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
      .stripMargin, "track", _.orderBy("user_id"))

  private val sortTop = app("sql_app_sort_live",
    """@info(name = 'sk')
      |from events#window.sort(5, value, 'desc')
      |select math:round(sum(value), 2) as sv, count() as n,
      |  math:round(min(value), 2) as vmin
      |insert into Out""".stripMargin, "sk")

  private val enrich = app("sql_app_enrich_live", EventsDecl +
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
      |insert into Out""".stripMargin, "enrich")

  private val session = app("sql_app_session_live",
    """@info(name = 'sess')
      |from events#window.session(2 min)
      |select user_id, count() as n, math:round(sum(value), 2) as total
      |group by user_id
      |order by user_id, w_start_ms
      |insert into Out""".stripMargin, "sess")

  private val rateFirst = app("sql_app_rate_live",
    """@info(name = 'first_per_min')
      |from events[value > 100.0]
      |select event_id, user_id, value
      |order by event_id
      |output first every 1 min
      |insert into Out""".stripMargin, "first_per_min")

  val all: Map[String, Seq[Call]] = Map(
    "live_table" -> Seq(tableUpsert, sortTop),
    "live_enrich" -> Seq(enrich),
    "live_window" -> Seq(rateFirst,
      registry("stream_stream_join", "events", live = true)),
    "batch" -> (Seq(tableUpsert, session).map(batchOf) ++
      Seq(registry("window_time_sliding", "events", live = false),
        registry("text_tfidf", "documents", live = false),
        registry("sim_semdedup", "embeddings", live = false))))
}
