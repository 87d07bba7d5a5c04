package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.engine._

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Operator-level checks on the smallest fixture + physical-plan
  * assertions (the 100 TB-shape guarantees: pushdown, broadcast, no
  * cartesian products where banding should prevent them). */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter_threshold pushes predicates into the parquet scan") {
    val df = Relational.filterThreshold(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      (p.contains("GreaterThan(value,100.0)") || p.contains("IsNotNull")),
      s"no pushed filters in plan:\n$p")
    assert(df.count() > 0)
  }

  test("join_multiway broadcasts the small dimension") {
    val p = plan(Relational.joinMultiway(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("join_asof: window formulation ≡ naive range join, no BNLJ in plan") {
    import org.apache.spark.sql.functions._
    val got = Relational.joinAsof(spark, sf)
    // the scalable formulation must not plan a nested-loop/cartesian join
    val p = plan(got)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"range-join shape:\n$p")
    // naive truth: max prior-or-equal error per purchase via range join
    val ev = Tables.events(spark, sf)
    val err = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts_ns").as("e_ts"),
        col("event_id").as("e_id"))
    val naive = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns"), col("event_id").as("purchase_id"))
      .join(err, col("user_id") === col("e_user") &&
        col("e_ts") <= col("ts_ns"), "left_outer")
      .groupBy("purchase_id", "user_id", "ts_ns")
      .agg(max(struct(col("e_ts"), col("e_id"))).as("best"))
      .select(col("purchase_id"), col("user_id"),
        col("best.e_id").as("asof_error_id"),
        (expr("ts_ns div 1000000") - expr("best.e_ts div 1000000"))
          .as("gap_ms"))
      .orderBy("purchase_id")
    assert(got.collect().toSeq == naive.collect().toSeq)
  }

  test("cosine_sim: arity/type validation and zero-vector handling") {
    engine.expressions.CosineSimilarity.register(spark)
    // wrong arity fails at function-resolution time with a clear message
    val e1 = intercept[Exception](
      spark.sql("SELECT cosine_sim(array(1.0d))").collect())
    assert(e1.getMessage.contains("2"), e1.getMessage)
    // wrong input type fails ANALYSIS (readable), not execution (CCE)
    val e2 = intercept[Exception](
      spark.sql("SELECT cosine_sim('a', 'b')").collect())
    assert(e2.getMessage.toLowerCase.contains("array"), e2.getMessage)
    // zero vector ⇒ 0.0 (not NaN) in interpreted eval and codegen alike
    val z = spark.sql(
      "SELECT cosine_sim(array(0.0d, 0.0d), array(1.0d, 2.0d)) AS c")
      .collect()(0).getDouble(0)
    assert(z == 0.0)
  }

  test("registry hygiene: every query has an oracle (or is the one " +
       "declared rows-only), every oracle has a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    val rowsOnly = Set("fn_nondeterministic") // UUID/now(): no oracle
    assert((queries -- oracles) == rowsOnly,
      s"queries missing an oracle: ${(queries -- oracles) -- rowsOnly}")
    assert((oracles -- queries).isEmpty,
      s"orphan oracle SQL entries: ${oracles -- queries}")
    // a typo'd Bench headline name would silently drop from the compact
    // line instead of erroring
    assert((Bench.headline.toSet -- queries).isEmpty,
      s"Bench headline names not in the registry: " +
        s"${Bench.headline.toSet -- queries}")
  }

  test("registry hygiene: driver-comparator sortability — no top-level " +
       "array/map/struct columns, no duplicate column names") {
    // The driver's pandas comparator sorts rows by every column; a raw
    // array/map/struct column raises "unhashable type" and reds the gate
    // (round-6 sql_collections). Enforce scalar-only schemas for every
    // registry query — collections must be array_join'd / to_json'd.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val schema = fn(spark, sf).schema
        val bad = schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"${f.name}: ${f.dataType.simpleString}"
        }
        val dups = schema.fieldNames.groupBy(identity).collect {
          case (n, occ) if occ.length > 1 => n
        }
        if (bad.nonEmpty || dups.nonEmpty)
          Some(s"$name -> nonscalar=[${bad.mkString(", ")}] " +
            s"dupCols=[${dups.mkString(", ")}]")
        else None
    }
    assert(offenders.isEmpty,
      s"driver-unsortable registry schemas:\n${offenders.mkString("\n")}")
  }

  test("plan sweep: no batch query plans a cartesian product") {
    // systematic 100 TB guard across the whole registry: an accidental
    // CartesianProduct (or unintended nested-loop join) in ANY batch
    // operator would explode at scale. Nested-loop BY DESIGN (broadcast
    // small side, so a scan — not a shuffled cartesian): join_theta
    // (arbitrary non-equi condition), sim_topk_brute (exact NN must scan
    // query×corpus), sim_topk_ivf (centroid assignment compares every
    // vector to the broadcast centroid set).
    val nestedLoopByDesign =
      Set("join_theta", "sim_topk_brute", "sim_topk_ivf",
        "sim_topk_quantized", // quantized exact scan: query side broadcast
        "sim_topk_pq") // ADC scan: codes stream against broadcast queries
    val batchQueries =
      Relational.queries ++ Windows.queries ++ Aggregates.queries ++
        Functions.queries ++ Cep.queries ++ Similarity.queries ++
        TextAnalysis.queries ++ Multimodal.queries ++ Sketches.queries ++
        Ops.queries ++ Extras.queries ++ Ml.queries ++ SqlGate.queries
    val offenders = batchQueries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = plan(fn(spark, sf))
        val cart = p.contains("CartesianProduct")
        val bnlj = p.contains("BroadcastNestedLoopJoin") &&
          !nestedLoopByDesign(name)
        if (cart || bnlj) Some(s"$name (cart=$cart bnlj=$bnlj)") else None
    }
    assert(offenders.isEmpty, s"scale-hostile plans: $offenders")
  }

  test("cep_pattern_exec: custom operator plans one exchange, matches NFA") {
    val df = Cep.patternExec(spark, sf)
    val p = plan(df)
    // the custom physical operator is in the plan, with the exchange+sort
    // EnsureRequirements inserted from its declared requirements
    assert(p.contains("PatternMatch"), s"no PatternMatchExec:\n$p")
    // one hash exchange for the operator (the second exchange is the
    // presentation orderBy's range partitioning)
    assert("hashpartitioning\\(userId".r.findAllIn(p).size == 1, p)
    // identical output to the flatMapGroups execution of the same NFA
    val viaGroups = Cep.seqFollowedBy(spark, sf)
      .select("user_id", "start_id", "next_id", "next_value")
    assert(df.collect().toSeq == viaGroups.collect().toSeq)
  }

  test("GraftExtensions: extensions-built session plans SQL fn + custom op") {
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions = the programmatic twin of spark.sql.extensions
    // (the conf-string form is static and can't attach to the test's
    // already-running SparkContext); both funnel into GraftExtensions.apply
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.engine.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // native function resolves in plain SQL — no runtime register()
      val c = s2.sql(
        "SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c")
        .collect()(0).getDouble(0)
      assert(math.abs(c - 1.0) < 1e-9)
      // the custom operator plans through the INJECTED strategy alone
      assert(s2.experimental.extraStrategies.isEmpty)
      val df = Cep.patternDf(s2, sf)
      assert(df.queryExecution.executedPlan.toString.contains("PatternMatch"))
      assert(df.count() > 0)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("PatternKeyPushdown: key filter reaches the scan; others stay above") {
    import org.apache.spark.sql.functions._
    // key predicate above the custom operator → pushed into the parquet scan
    val keyed = Cep.patternExec(spark, sf).filter(col("user_id") === 7)
    val p = plan(keyed)
    assert(p.contains("EqualTo(user_id,7)") ||
      p.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]"),
      s"key filter did not reach the scan:\n$p")
    // results unchanged vs filtering the un-pushed NFA output
    val all = Cep.seqFollowedBy(spark, sf)
      .filter(col("user_id") === 7)
      .select("user_id", "start_id", "next_id", "next_value")
    assert(keyed.collect().toSeq == all.collect().toSeq)
    // a NON-key predicate must NOT push below the match
    val nonKey = Cep.patternExec(spark, sf).filter(col("next_value") > 100)
    val p2 = plan(nonKey)
    assert(!p2.contains("GreaterThan(value,100"),
      s"non-key filter leaked below the NFA:\n$p2")
  }

  test("sim_topk_srp: deterministic, ranked, and recalls brute-force hits") {
    import org.apache.spark.sql.functions._
    val srp = Similarity.topkSrp(spark, sf).collect()
    // deterministic across plans (hash-derived planes, no RNG)
    assert(srp.toSeq == Similarity.topkSrp(spark, sf).collect().toSeq)
    // per query: ranks contiguous from 1, cosine non-increasing
    srp.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRk = rows.sortBy(_.getInt(1))
      assert(byRk.map(_.getInt(1)).toSeq == (1 to byRk.length))
      val cs = byRk.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // LSH recall vs the exact brute-force top-5 of the same queries:
    // H≤2 multiprobe over 6 planes must recover a shippable share
    // (bucketing is similarity-preserving, not random partitioning)
    val brute = Similarity.topkBrute(spark, sf)
      .filter(col("rk") <= 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = srp.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    info(f"sim_topk_srp recall@5 vs brute = $recall%.2f")
    // the same shippable bar IVF and PQ assert: L=12 tables measure
    // well above it, so 0.8 is a floor, not the measurement
    assert(recall >= 0.8, s"SRP recall $recall vs brute top-5")
  }

  test("sim_topk_srp: a null or non-64-dim embedding fails by name") {
    import spark.implicits._
    def run(rows: Seq[(Long, Seq[Float])]): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_srp_guard").toString
      rows.toDF("vec_id", "embedding")
        .write.parquet(s"$dir/embeddings.parquet")
      val e = intercept[Exception](Similarity.topkSrp(spark, dir).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val ok = (0L until 4L).map(i => i -> Seq.fill(64)(i.toFloat + 1f))
    assert(run(ok :+ (9L -> Seq.fill(65)(1f)))
      .contains("embedding has 65 dims; the SRP planes take 64"))
    assert(run(ok :+ (9L -> null))
      .contains("sim_topk_srp: null embedding"))
  }

  test("sim_topk_ivf: nprobe-3 probing with top-2 multi-assignment " +
       "recalls a shippable share of the brute top-5") {
    import org.apache.spark.sql.functions._
    val ivf = Similarity.topkIvf(spark, sf).collect()
    // the IVF gate's queries are vec_id 1..3
    val brute = Similarity.topkBrute(spark, sf)
      .filter(col("rk") <= 5 && col("q_id").between(1, 3)).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    info(f"sim_topk_ivf recall@5 vs brute = $recall%.2f")
    assert(recall >= 0.8, s"IVF recall $recall vs brute top-5")
  }

  test("corpus_pipeline emits only canonical keepers of dedup_normalized") {
    val keepers = TextAnalysis.dedupNormalized(spark, sf).collect()
      .filter(r => r.getLong(0) == r.getLong(3)) // doc_id == keeper_id
      .map(_.getLong(0)).toSet
    val out = TextAnalysis.corpusPipeline(spark, sf).collect()
      .map(_.getLong(0))
    assert(out.nonEmpty && out.forall(keepers))
  }

  test("join_unidirectional ≡ naive window-contents recompute") {
    import org.apache.spark.sql.functions._
    val got = Relational.joinUnidirectional(spark, sf).collect().toSeq
    val ev = Tables.events(spark, sf)
    val naive = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        col("ts_ns").as("e_ts"))
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts_ns").as("p_ts")), Seq("user_id"))
      .filter(col("p_ts") - col("e_ts") < 5L * 60 * 1000 * 1000 * 1000 &&
        col("p_ts") >= col("e_ts"))
      .select("user_id", "purchase_id", "error_id")
      .orderBy("purchase_id", "error_id")
      .collect().toSeq
    assert(got == naive)
  }

  test("salted two-phase aggregation ≡ direct aggregation under skew") {
    import org.apache.spark.sql.functions._
    // the 100 TB skew pattern: a hot key takes 90% of rows — salt the
    // first aggregation with a shard suffix, then merge partials. The
    // result must be identical to the direct groupBy (sums of longs
    // commute exactly; float aggs would need the same plan shape).
    val ev = Tables.events(spark, sf)
      .withColumn("k", when(col("user_id") % 10 =!= 0, lit(0L))
        .otherwise(col("user_id"))) // hot key 0
      .withColumn("cents", expr("cast(round(value * 100) as bigint)"))
    val direct = ev.groupBy("k")
      .agg(sum("cents").as("c"), count(lit(1)).as("n"))
      .orderBy("k").collect().toSeq
    val salted = ev
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("k", "salt") // phase 1: 16-way split of the hot key
      .agg(sum("cents").as("pc"), count(lit(1)).as("pn"))
      .groupBy("k") // phase 2: merge partials
      .agg(sum("pc").as("c"), sum("pn").as("n"))
      .orderBy("k").collect().toSeq
    assert(direct.nonEmpty && salted == direct)
  }

  test("dedup_components: labels are a closed fixpoint with min ids") {
    val rows = Dedup.components(spark, sf).collect()
    val lab = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // component id is the min doc id of the component and ≤ every member
    assert(rows.forall(r => r.getLong(1) <= r.getLong(0)))
    rows.groupBy(_.getLong(1)).foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid)
      assert(members.forall(_.getLong(2) == members.length))
    }
    // closed under the edge set: both endpoints of every dup pair share
    // a component
    val (banded, pairs) = Dedup.minhashLshPlanned(spark, sf)
    pairs.select("d1", "d2").collect().foreach { r =>
      assert(lab(r.getLong(0)) == lab(r.getLong(1)))
    }
    banded.unpersist()
  }

  test("ccLabels: pointer jumping makes a 512-chain converge in " +
       "O(log d) rounds, not O(d)") {
    import spark.implicits._
    val n = 512
    // chain 0-1-2-…-511 (worst-case diameter) plus a disjoint triangle
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
    val tri = Seq((1000L, 1001L), (1001L, 1002L), (1000L, 1002L))
    val sym = (chain ++ tri).flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val (labels, rounds) = Dedup.ccLabels(sym)
    val lab = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab.size == n + 3)
    assert((0 until n).forall(i => lab(i.toLong) == 0L),
      "chain must collapse to label 0")
    assert(Seq(1000L, 1001L, 1002L).forall(lab(_) == 1000L))
    // plain propagation needs ~511 rounds here; the jump step doubles
    // pointer reach every round → ~log₂(512)+detection ≈ 10
    assert(rounds <= 13, s"$rounds rounds on a 512-chain — pointer " +
      "jumping is not engaging (O(d) regression)")
  }

  test("dedup_embedding_nn: distributed block cogroup, no driver matrix") {
    import org.apache.spark.sql.functions._
    val df = Dedup.embeddingNn(spark, sf)
    val p = plan(df)
    // the matrix must be a RELATION in the plan (block cogroup), never a
    // driver-collected broadcast variable (LocalTableScan) — the round-2
    // driver-OOM-at-scale finding
    assert(!p.contains("LocalTableScan"),
      s"driver-side materialized relation in NN plan:\n$p")
    assert(p.contains("CoGroup"), s"no block cogroup in NN plan:\n$p")
    // brute-force truth on the tiny fixture (collect is TEST-side only)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val naive = vecs.map { case (id, v) =>
      val (bid, bcos) = vecs.filter(_._1 != id)
        .map { case (oid, ov) => (oid, cos(v, ov)) }
        .maxBy { case (oid, c) => (c, -oid) }
      (id, bid, bcos)
    }
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == naive.toSeq)
  }

  test("dedup_ngram_jaccard: uniform-length corpus stays cell-bounded") {
    import spark.implicits._
    // 500 docs, ALL the same length (the fixed-token-chunk pre-training
    // shape that collapses length-only blocking into one O(n²) task);
    // docs i and i+250 are identical, all other pairs token-disjoint
    val n = 500
    val base = (0 until n / 2).map { i =>
      (0 until 30).map(k => f"w$i%03d_$k%04d").mkString(" ")
    }
    val docs = (base ++ base).zipWithIndex
      .map { case (t, i) => (i.toLong, t, t.length) }
      .toDF("doc_id", "text", "n_chars")
    val g = Dedup.jaccardCellGroups
    val cellSizes = Dedup.jaccardCellKeys(docs)
      .groupBy("bkey", "lo", "hi").count().collect()
    // every length bucket fans into the full g(g+1)/2 triangle cells and
    // no cell carries more than ~2n/g docs — the degenerate single-bucket
    // O(n²) task cannot exist
    cellSizes.groupBy(_.getInt(0)).foreach { case (_, cells) =>
      assert(cells.length == g * (g + 1) / 2,
        s"expected ${g * (g + 1) / 2} cells, got ${cells.length}")
    }
    val maxCell = cellSizes.map(_.getLong(3)).max
    assert(maxCell <= 3L * n / g && maxCell < n,
      s"cell of $maxCell docs — triangle partitioning not bounding work")
    // and the pair semantics survive the partitioning: exactly the 250
    // duplicate pairs, each compared once (no drops, no double-counting)
    val got = Dedup.ngramJaccardOn(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == n / 2, s"got ${got.length} pairs, want ${n / 2}")
    assert(got.forall { case (d1, d2, j) => d2 == d1 + n / 2 && j == 1.0 })
  }

  test("Patterns DSL: selectPlan ≡ select (custom operator parity)") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import scala.concurrent.duration._
    import spark.implicits._
    // the same pattern through both public execution paths must agree
    val pat = graft.api.Patterns
      .begin("e1")((e, _) => e.eventType == "error")
      .followedBy("e2")((e, _) => e.eventType == "purchase")
      .within(5.minutes)
    val viaNfa = pat.select[(Long, Long, Double)](spark, sf) { b =>
      (b("e1").head.eventId, b("e2").head.eventId, b("e2").head.value)
    }.toDF("start_id", "next_id", "next_value").orderBy("start_id")
    val viaPlan = pat.selectPlan(spark, sf, Seq(
      "start_id" -> LongType, "next_id" -> LongType,
      "next_value" -> DoubleType)) { b =>
      Seq[Any](b("e1").head.eventId, b("e2").head.eventId,
        b("e2").head.value)
    }.orderBy("start_id")
    assert(plan(viaPlan).contains("PatternMatch"),
      "selectPlan did not plan the custom operator")
    assert(viaPlan.collect().toSeq == viaNfa.collect().toSeq)
  }

  test("Patterns DSL: selectStream ≡ select over the replayed feed") {
    import scala.concurrent.duration._
    import spark.implicits._
    val pat = graft.api.Patterns
      .begin("e1")((e, _) => e.eventType == "error")
      .followedBy("e2")((e, _) => e.eventType == "purchase")
      .within(5.minutes)
    val streamed = engine.Streaming.runStream(spark, sf, "dsl_stream_cep",
      org.apache.spark.sql.streaming.OutputMode.Append()) { ds =>
      pat.selectStream(ds) { b =>
        (b("e1").head.eventId, b("e2").head.eventId)
      }.toDF("start_id", "next_id")
    }.orderBy("start_id")
    val batch = pat.select[(Long, Long)](spark, sf) { b =>
      (b("e1").head.eventId, b("e2").head.eventId)
    }.toDF("start_id", "next_id").orderBy("start_id")
    assert(streamed.collect().toSeq == batch.collect().toSeq)
    // the guard rejects stream-inexpressible shapes with a clear message
    val bad = graft.api.Patterns
      .begin("a")((e, _) => e.eventType == "error")
      .notFor("n", 5.minutes)((e, _) => e.eventType == "purchase")
    val err = intercept[IllegalArgumentException](
      bad.selectStream(null.asInstanceOf[
        org.apache.spark.sql.Dataset[graft.api.Patterns.Ev]]) { _ => 0 })
    assert(err.getMessage.contains("absence"))
  }

  test("Patterns DSL: selectStreamTimed ≡ select for an absence " +
    "pattern with within-eviction, through real event-time timers") {
    import scala.concurrent.duration._
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    // `every error -> not purchase for 5 min within 30 min`: absence
    // confirmation rides event-time timers; `within` + every arms the
    // horizon-bounded state eviction
    val pat = graft.api.Patterns
      .begin("e1")((e, _) => e.eventType == "error")
      .notFor("no_p", 5.minutes)((e, _) => e.eventType == "purchase")
      .within(30.minutes)
    val streamed = engine.Streaming.runStream(spark, sf,
      "dsl_stream_cep_timed",
      org.apache.spark.sql.streaming.OutputMode.Append(), chunks = 3,
      flush = true) { ds =>
      pat.selectStreamTimed(
        ds.withColumn("ts", timestamp_micros(expr("tsNs div 1000")))
          .withWatermark("ts", "0 seconds")
          .filter(col("ts") < engine.Streaming.flushCutoff)
          .as[engine.Streaming.EvT]) { b =>
        (b("e1").head.userId, b("e1").head.eventId)
      }.toDF("user_id", "event_id")
    }.orderBy("event_id")
    val batch = pat.select[(Long, Long)](spark, sf) { b =>
      (b("e1").head.userId, b("e1").head.eventId)
    }.toDF("user_id", "event_id").orderBy("event_id")
    val got = streamed.collect().toSeq
    assert(got.nonEmpty && got == batch.collect().toSeq)
  }

  test("dedup_minhash_lsh plans equi-joins, not cartesian products") {
    val p = plan(Dedup.minhashLshPlanned(spark, sf)._2)
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH plan:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join in LSH plan:\n$p")
  }

  test("window aggregations use partial (map-side) aggregation") {
    val p = plan(Windows.timeBatchSum(spark, sf))
    assert(p.contains("HashAggregate"), s"no hash agg:\n$p")
  }

  test("windows: timeBatch sum equals manual per-minute grouping") {
    import org.apache.spark.sql.functions._
    val got = Windows.timeBatchSum(spark, sf)
    val manual = Tables.events(spark, sf)
      .groupBy((expr("ts_ns div 60000000000") * 60000L).as("w_start_ms"))
      .agg(round(sum("value"), 2).as("sum_value"), count(lit(1)).as("cnt"))
      .orderBy("w_start_ms")
    assert(got.collect().toSeq == manual.collect().toSeq)
  }

  test("dedup_exact keeps one keeper per prefix hash") {
    val rows = Dedup.exact(spark, sf).collect()
    assert(rows.nonEmpty)
    val keepers = rows.map(_.getAs[Long]("keeper_id"))
    assert(keepers.distinct.length == keepers.length)
  }

  test("similarity brute top-k: k rows per query, descending cosine") {
    val rows = Similarity.topkBrute(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, rs) =>
      assert(rs.length <= 10)
      val cos = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("sim_semdedup: removals independently witnessed, keepers survive") {
    import org.apache.spark.sql.functions._
    val rem = Similarity.semDedup(spark, sf).collect()
    assert(rem.nonEmpty)
    rem.foreach { r =>
      assert(r.getAs[Long]("witness_id") < r.getAs[Long]("vec_id"))
      assert(r.getAs[Double]("max_cos") >= 0.40)
      assert(r.getAs[Long]("n_witness") >= 1L)
    }
    // each cluster's lowest id can have no lower-id witness → never removed
    val clusterMins = Similarity.kmeansBatch(spark, sf).collect()
      .map(_.getAs[Long]("min_vec")).toSet
    val removedIds = rem.map(_.getAs[Long]("vec_id")).toSet
    assert(clusterMins.intersect(removedIds).isEmpty)
    // witness pairs re-verified OUTSIDE the semdedup plan: raw embeddings
    // join, cosine recomputed — every (vec_id, witness_id) pair is a real
    // above-threshold neighbour, not an artifact of the cluster pipeline
    engine.expressions.CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sf).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val pairs = spark.createDataFrame(
        java.util.Arrays.asList(rem.map(r => org.apache.spark.sql.Row(
          r.getAs[Long]("vec_id"), r.getAs[Long]("witness_id"))): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("a",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.LongType))))
      .join(e, col("a") === col("vec_id")).withColumnRenamed("v", "va")
      .drop("vec_id")
      .join(e, col("b") === col("vec_id")).withColumnRenamed("v", "vb")
      .withColumn("c", expr("round(cosine_sim(va, vb), 6)"))
    assert(pairs.filter(col("c") < 0.40).count() == 0)
  }

  test("sim_topk_pq: re-ranked top-10 well-formed, exact cosines honest, " +
    "recall vs brute") {
    val pq = Similarity.topkPq(spark, sf).collect()
    assert(pq.length == 50) // 5 queries x top-10
    pq.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      val byRk = rows.sortBy(_.getAs[Int]("rk"))
      // final rank is the exact-cosine re-rank of the ADC pool:
      // cos_exact non-increasing with rank; no self; no duplicates
      assert(byRk.map(_.getAs[Double]("cos_exact")).sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1)))
      assert(!byRk.exists(_.getAs[Long]("vec_id") == q))
      assert(byRk.map(_.getAs[Long]("vec_id")).distinct.length == 10)
    }
    // exact-cosine column re-verified against brute's independent scan
    val brute = Similarity.topkBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos")).toMap
    pq.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos_exact")))
    }
    // recall@10 vs the exact scan — deterministic on this corpus. The
    // ADC-prune → exact-re-rank pool (P=100) must make the component
    // shippable: ≥ 0.8, not just better-than-random
    val recall = pq.count { r =>
      brute.contains((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
    } / 50.0
    info(f"sim_topk_pq recall@10 vs brute = $recall%.2f")
    assert(recall >= 0.8)
  }

  test("agg_timeseries_outlier: fit and residual-stddev windows share " +
    "ONE hash exchange; flags are honest z-scores") {
    val df = Aggregates.timeseriesOutlier(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the OLS-fit window and the residual-stddev window both partition
    // by user_id — Catalyst must reuse a single hashpartitioning
    // exchange (the orderBy adds its own range exchange; no more)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("residual")) >=
        r.getAs[Double]("threshold"))
    }
  }

  test("corpus_shard_shuffle / corpus_pack_chunks: shards partition the " +
    "corpus, chunks tile each shard's token stream") {
    val shards = TextAnalysis.shardShuffle(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(shards.map(_.getAs[Long]("n_docs")).sum == total)
    // hash sharding balances: no shard above 2x the mean
    val counts = shards.map(_.getAs[Long]("n_docs"))
    assert(counts.max <= 2 * total / counts.length)
    val chunks = TextAnalysis.packChunks(spark, sf).collect()
    chunks.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rows) =>
      val byChunk = rows.sortBy(_.getAs[Long]("chunk"))
      // chunk ids contiguous from 0; doc/token totals re-tile the shard
      assert(byChunk.map(_.getAs[Long]("chunk")).toSeq ==
        (0L until byChunk.length))
      val srow = shards.find(_.getAs[Long]("shard") == sh).get
      assert(byChunk.map(_.getAs[Long]("n_docs")).sum ==
        srow.getAs[Long]("n_docs"))
      assert(byChunk.map(_.getAs[Long]("n_tokens")).sum ==
        srow.getAs[Long]("n_tokens"))
      // greedy boundary: every chunk starts inside its own budget window
      byChunk.foreach { c =>
        val (ck, st) = (c.getAs[Long]("chunk"), c.getAs[Long]("start_tok"))
        assert(st >= 2048 * ck && st < 2048 * (ck + 1))
      }
    }
  }

  test("cep batch matches equal streaming flatMapGroupsWithState matches") {
    val batch = Cep.seqFollowedBy(spark, sf).collect().toSeq
    val stream = Streaming.cepSeq(spark, sf).collect().toSeq
    assert(batch == stream)
  }

  test("native cosine_sim expression: SQL-registered, correct, codegen'd") {
    engine.expressions.CosineSimilarity.register(spark)
    val r = spark.sql(
      """SELECT round(cosine_sim(array(1.0D, 2.0D, 3.0D),
        |  array(3.0D, 2.0D, 1.0D)), 6) AS c""".stripMargin).collect()
    assert(r.head.getDouble(0) == 0.714286) // 10 / (sqrt14 * sqrt14)
    // identical to the interpreted HOF fold on real data
    import org.apache.spark.sql.functions._
    val e = engine.Tables.embeddings(spark, sf).limit(50)
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
    val native = e.select(expr("round(cosine_sim(v, v), 6)").as("c"))
      .collect().map(_.getDouble(0))
    assert(native.forall(_ == 1.0))
  }

  test("expression window: retention invariant holds at every event") {
    val rows = Extras.expressionWindow(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("occupancy") < 10)
      assert(r.getAs[Long]("retained_cents") < 80000L)
      // current event always retained (every single value < the 800 cap)
      assert(r.getAs[Long]("occupancy") >= 1)
    }
  }

  test("multimodal features: byte stats consistent with doc lengths") {
    val feats = Multimodal.decodeFeatures(spark, sf).collect()
    assert(feats.nonEmpty)
    feats.foreach { r =>
      val n = r.getAs[Int]("n_bytes")
      assert(r.getAs[Int]("n_frames") == (n + 15) / 16)
      assert(r.getAs[Long]("byte_sum") > 0)
    }
  }

  test("bucketed tables co-locate joins: no shuffle exchange in the plan") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("graft_bucketed")
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    def writeBucketed(name: String): Unit =
      li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/$name").saveAsTable(name)
    writeBucketed("li_a")
    writeBucketed("li_b")
    // force the co-located merge path (tiny test tables would broadcast)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_a").groupBy("l_orderkey")
        .agg(sum("l_quantity").as("qa"))
        .join(spark.table("li_b").groupBy("l_orderkey")
          .agg(sum("l_extendedprice").as("pb")), "l_orderkey")
      val p = joined.queryExecution.executedPlan.toString
      // bucketed scans already satisfy the hash-partitioning requirement:
      // aggregation AND join run with zero shuffle exchanges
      assert(!p.contains("Exchange hashpartitioning"),
        s"unexpected shuffle:\n$p")
      assert(p.contains("Bucketed: true"), s"scan not bucketed:\n$p")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS li_a")
      spark.sql("DROP TABLE IF EXISTS li_b")
    }
  }

  test("COVERAGE.md documented counts match the actual registries " +
       "(r15 — the thrice-drifted counts, mechanized)") {
    // COVERAGE.md carries a machine-readable counts line; this test
    // fails on ANY drift so the numbers can never be hand-counted
    // wrong again. green_tests = all `test(` across the spec dir
    // minus the SPARK_GRAFT_SCALE-gated rehearsals (which sbt reports
    // as canceled, by design).
    val cov = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    val m = """<!-- counts: queries=(\d+) rehearsals=(\d+) green_tests=(\d+) -->"""
      .r.findFirstMatchIn(cov)
      .getOrElse(fail("COVERAGE.md lacks the machine-readable " +
        "`<!-- counts: ... -->` line"))
    val (docQ, docR, docG) =
      (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
    assert(docQ == SparkEntry.queries.size,
      s"COVERAGE.md says $docQ queries; SparkEntry.queries has " +
        s"${SparkEntry.queries.size}")
    val specDir = java.nio.file.Paths.get("src/test/scala/graft")
    def testCount(p: java.nio.file.Path): Int =
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .linesIterator.count(_.trim.startsWith("test("))
    val rehearsals =
      testCount(specDir.resolve("ScaleRehearsalSpec.scala"))
    assert(docR == rehearsals,
      s"COVERAGE.md says $docR rehearsals; ScaleRehearsalSpec has " +
        s"$rehearsals")
    val total = java.nio.file.Files.list(specDir).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).map(testCount).sum
    assert(docG == total - rehearsals,
      s"COVERAGE.md says $docG green tests; spec dir has " +
        s"${total - rehearsals} (= $total total - $rehearsals gated)")
  }

  override def afterAll(): Unit = () // session shared across suites
}
