package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType,
  StructField, StructType}

/** Similarity search over the embedding column (beyond-reference ops;
  * builder brief + SURVEY.md §7.3 step 9).
  *
  *   - sim_topk_brute: the exact baseline — broadcast the query set, one
  *     linear scan over all vectors, two-phase top-k (partition-local via a
  *     salted window, then global over the k·P survivors). No single-key
  *     skew: the first ranking pass partitions by (query, spark partition),
  *     so at 100 TB no reducer ever sees more than its scan share.
  *   - sim_topk_ivf: the scale path — a deterministic "IVF" built from a
  *     broadcastable centroid set; vectors are assigned to their nearest
  *     centroid (one broadcast join + per-vector argmax), queries probe the
  *     nprobe closest centroids and search only those clusters. Recall <
  *     1.0 by design; the oracle implements the identical probing logic so
  *     the gate checks the algorithm, not just its lucky agreement with
  *     brute force.
  *
  * Cosine is computed as an explicit left-to-right double fold (aggregate/
  * zip_with) so the DuckDB oracle's list_reduce reproduces it bit-for-bit;
  * results round to 6 decimals before ranking-irrelevant comparison.
  */
object Similarity {
  import Tables._
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic sequential-fold cosine between array<double> cols a, b
    * — the native codegen'd CosineSimilarity expression (identical
    * accumulation order to the oracle's list_reduce folds). */
  private def cosExpr(a: String, b: String): Column =
    expr(s"round(cosine_sim($a, $b), 6)")

  private def vecs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))

  /** sim_topk_brute: top-10 cosine neighbours for query vectors id<5. */
  def topkBrute(s: SparkSession, d: String): DataFrame = {
    graft.engine.expressions.CosineSimilarity.register(s)
    val all = vecs(s, d)
    val queries = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = all.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosExpr("qv", "v"))
      .select("q_id", "vec_id", "cos")
    // two-phase top-k: local rank within (query, physical partition) bounds
    // any single reducer to its scan share; global rank sees only k·P rows
    val local = scored
      .withColumn("pid", spark_partition_id())
      .withColumn("lrk", expr("row_number() over (partition by q_id, pid " +
        "order by cos desc, vec_id)"))
      .filter(col("lrk") <= 10)
    local
      .withColumn("rk", expr("row_number() over (partition by q_id " +
        "order by cos desc, vec_id)"))
      .filter(col("rk") <= 10)
      .select("q_id", "rk", "vec_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** sim_topk_ivf: IVF-style probe — centroids are vec_id % 97 == 0;
    * every vector is indexed under its TOP-2 nearest centroids
    * (multi-assignment, the classic IVF recall lever orthogonal to
    * nprobe: a true neighbour straddling a Voronoi boundary is findable
    * from either side, at 2× index size and unchanged probe cost);
    * queries (vec_id in 1..3) probe the 3 nearest centroids, the
    * candidate union dedups, and only those clusters are ranked.
    * Measures recall@5 ≥ 0.8 — the same shippable floor as SRP and PQ.
    * At scale the centroid count grows with the corpus while nprobe and
    * the assignment factor stay small constants. */
  def topkIvf(s: SparkSession, d: String): DataFrame = {
    graft.engine.expressions.CosineSimilarity.register(s)
    val all = vecs(s, d)
    val cents = all.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    // top-2-centroid assignment: broadcast join + per-vector rank
    val assigned = all.join(broadcast(cents))
      .withColumn("ccos", cosExpr("v", "cv"))
      .withColumn("crk", expr("row_number() over (partition by vec_id " +
        "order by ccos desc, c_id)"))
      .filter(col("crk") <= 2)
      .select(col("vec_id"), col("v"), col("c_id").as("cluster"))
    val queries = all.filter(col("vec_id") >= 1 && col("vec_id") <= 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // probe list: 3 nearest centroids per query
    val probes = queries.join(broadcast(cents))
      .withColumn("ccos", cosExpr("qv", "cv"))
      .withColumn("crk", expr("row_number() over (partition by q_id " +
        "order by ccos desc, c_id)"))
      .filter(col("crk") <= 3)
      .select(col("q_id"), col("qv"), col("c_id").as("cluster"))
    probes.join(assigned, Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      // multi-assignment can surface a candidate from two probed
      // clusters — dedup BEFORE the cosine so each pair scores once
      .dropDuplicates(Seq("q_id", "vec_id"))
      .withColumn("cos", cosExpr("qv", "v"))
      .withColumn("rk", expr("row_number() over (partition by q_id " +
        "order by cos desc, vec_id)"))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "vec_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** sim_topk_srp: signed-random-projection LSH (cosine LSH) — the other
    * classic ANN scale path next to [[topkIvf]]'s IVF, in the textbook
    * L-TABLE construction (union of independent hash tables, the lever
    * that buys recall without widening any one table's probe ring):
    *   1. L=[[SrpTables]] tables × 6 fixed ±1 hyperplanes; plane
    *      (t*6+k)'s entry
    *      signs are md5-derived from "planeIdx:dim" (deterministic,
    *      reproduced bit-for-bit by the DuckDB oracle — the hash IS
    *      the randomness);
    *   2. every vector gets a 6-bit bucket PER TABLE: bit k =
    *      sign(dot(v, plane_{t*6+k}));
    *   3. queries multi-probe each table's own bucket plus its 6
    *      Hamming-1 neighbours — explode (table, probe bucket) and
    *      EQUI-join on the composite key (shuffle/broadcast hash join,
    *      never a cross join: the plan that survives 100 TB), then
    *      union candidates across tables (dropDuplicates);
    *   4. exact-cosine re-rank of the candidate union, top-5.
    * Recall < 1 by design; the oracle implements identical tables and
    * probing, so the gate checks the algorithm. Per-table flip
    * probability θ/π compounds over 6 bits, so one table's H≤1 ring
    * recalls ~35% of mid-similarity neighbours — twelve independent
    * tables lift the union past the 0.8 shippable bar (the same floor
    * IVF and PQ assert) while each probe stays 7/64 of one table's
    * bucket space. At scale the levers are L (recall) and the
    * per-table plane count (candidate sparsity), not probe width. */
  def topkSrp(s: SparkSession, d: String): DataFrame = {
    graft.engine.expressions.CosineSimilarity.register(s)
    // r18: the signature is 12 tables × 6 planes = 72 ±1-signed dots per
    // vector. The previous `aggregate(zip_with(v, planes, x*p), 0D, a+x)`
    // SQL formulation evaluated interpreted (higher-order functions do
    // not participate in whole-stage codegen) and allocated one
    // intermediate array per plane per row — 72 allocations/row in the
    // hot path. This typed kernel folds the SAME md5-derived ±1 signs
    // over the SAME element order: `acc = 0.0; acc += v(i)*p(i)` is the
    // identical IEEE addition sequence to the zip_with+aggregate fold,
    // so every sign bit — and therefore every bucket, candidate set and
    // final row — is bit-identical (oracle-pinned).
    val planes: Array[Array[Double]] =
      Array.tabulate(SrpTables * SrpPlanes) { p =>
        Array.tabulate(SrpDim)(dim =>
          if (DedupKernels.md5Int48(s"$p:$dim") % 2 == 0) 1.0 else -1.0)
      }
    val bucketsUdf = udf((v: Seq[Double]) => {
      // the planes are SrpDim wide: a longer vector would index past
      // them and a shorter one would hash a partial dot product
      if (v == null)
        throw new IllegalArgumentException("sim_topk_srp: null " +
          s"embedding (the SRP planes take $SrpDim-dim vectors)")
      if (v.length != SrpDim)
        throw new IllegalArgumentException("sim_topk_srp: embedding " +
          s"has ${v.length} dims; the SRP planes take $SrpDim")
      val va = v.toArray
      Array.tabulate(SrpTables) { t =>
        var b = 0
        var k = 0
        while (k < SrpPlanes) {
          val pl = planes(t * SrpPlanes + k)
          var acc = 0.0
          var i = 0
          while (i < va.length) { acc += va(i) * pl(i); i += 1 }
          if (acc >= 0) b |= (1 << k)
          k += 1
        }
        b
      }
    })
    val base = vecs(s, d)
    val withB = base.withColumn("bs", bucketsUdf(col("v")))
    // the bucket join ships IDs ONLY (r12): the L-way exploded corpus
    // side would otherwise carry the 64-double vector through the
    // shuffle L times — candidate discovery needs (tbl, bucket,
    // vec_id) longs, and the exact re-rank join fetches each DISTINCT
    // candidate's vector exactly once afterwards (the 12× shuffle-byte
    // cut that pays for L=12's recall)
    val all = withB.select(col("vec_id"),
      posexplode(col("bs")).as(Seq("tbl", "bucket")))
    val qB = withB.filter(col("vec_id") < 5)
    val probes = qB
      .select(col("vec_id").as("q_id"),
        posexplode(col("bs")).as(Seq("tbl", "q_bucket")))
      // multi-probe per table: own bucket + the P Hamming-1 neighbours
      .withColumn("bucket", explode(expr(
        "array(q_bucket, " +
          (0 until SrpPlanes).map(k => s"q_bucket ^ ${1 << k}")
            .mkString(", ") +
          ")")))
      .select("q_id", "tbl", "bucket")
    val candIds = probes.join(all, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
      .dropDuplicates(Seq("q_id", "vec_id")) // union across tables
    candIds
      .join(base, Seq("vec_id"))
      .join(broadcast(qB.select(col("vec_id").as("q_id"),
        col("v").as("qv"))), Seq("q_id"))
      .withColumn("cos", cosExpr("qv", "v"))
      .withColumn("rk", expr("row_number() over (partition by q_id " +
        "order by cos desc, vec_id)"))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "vec_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** sim_topk_quantized: int8-quantized exact scan — the memory-side scale
    * lever next to IVF/SRP's compute-side ones: per-vector symmetric
    * quantization q_i = round(x_i · 127 / max|x|) shrinks the resident
    * matrix 4× (the difference between spilling and not at 100 TB), dots
    * become exact INTEGER folds (no FP accumulation at all), and only the
    * final cosine normalization touches doubles. Ranks by quantized
    * cosine; reports the exact cosine of each survivor next to it so the
    * quantization error is visible in the result. The oracle implements
    * the identical quantizer, so the gate checks the algorithm. */
  def topkQuantized(s: SparkSession, d: String): DataFrame = {
    graft.engine.expressions.CosineSimilarity.register(s)
    val q8 = vecs(s, d)
      .withColumn("mx", expr(
        "greatest(aggregate(v, 0.0d, (m, x) -> greatest(m, abs(x))), 1e-12d)"))
      .withColumn("qv", expr(
        "transform(v, x -> cast(round(x * 127.0 / mx) as bigint))"))
      .withColumn("nq", expr(
        "aggregate(qv, cast(0 as bigint), (a, x) -> a + x * x)"))
      .select("vec_id", "v", "qv", "nq")
    val queries = q8.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("pv"),
        col("qv").as("pqv"), col("nq").as("pnq"))
    val scored = q8.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("dot", expr(
        "aggregate(zip_with(pqv, qv, (a, b) -> a * b), cast(0 as bigint), " +
          "(a, x) -> a + x)"))
      .withColumn("cos_q", round(col("dot") /
        (sqrt(col("pnq").cast("double")) * sqrt(col("nq").cast("double"))),
        6))
      .withColumn("cos_exact", cosExpr("pv", "v"))
      .select("q_id", "vec_id", "cos_q", "cos_exact")
    // two-phase top-k, same as brute: local rank bounds any reducer
    val local = scored
      .withColumn("pid", spark_partition_id())
      .withColumn("lrk", expr("row_number() over (partition by q_id, pid " +
        "order by cos_q desc, vec_id)"))
      .filter(col("lrk") <= 10)
    local
      .withColumn("rk", expr("row_number() over (partition by q_id " +
        "order by cos_q desc, vec_id)"))
      .filter(col("rk") <= 10)
      .select("q_id", "rk", "vec_id", "cos_q", "cos_exact")
      .orderBy("q_id", "rk")
  }

  /** sim_kmeans_batch: batch Lloyd's k-means over the embedding corpus —
    * the clustering stage of a semantic-dedup / data-mixing pipeline
    * (SemDeDup-style: cluster, then dedup or rebalance WITHIN clusters).
    * k=8, two assignment passes around one centroid update,
    * deterministic init (the k lowest vec_ids).
    *
    * Execution shape = canonical distributed k-means: centroids live on
    * the driver (k·dim doubles — the ONLY driver state; never the
    * vectors), broadcast into a literal `transform`/`aggregate` distance
    * fold (argmin via array_position of array_min → first-minimum
    * tie-break), and the update is one per-(cluster, dim) avg over a
    * posexplode — a k·dim-row aggregate per iteration. All sums are
    * left-to-right folds and centroid components round to 6 decimals
    * each iteration, so the DuckDB oracle (same folds via list_reduce,
    * same rounding) reproduces assignments exactly. */
  /** The k-means assignment both [[kmeansBatch]] and [[semDedup]] share:
    * k=8, deterministic init (the k lowest vec_ids), one centroid update,
    * final reassignment. Returns (vec_id, v, cluster). Driver state is
    * k·dim doubles only — never the vectors. */
  private[graft] def kmeansAssigned(s: SparkSession, d: String): DataFrame = {
    val k = 8; val updates = 1; val dim = 64
    val e = vecs(s, d)
    var cents: Array[Array[Double]] = e.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    def assigned(): DataFrame = {
      val lit = cents.map(c => s"array(${c.mkString(",")})")
        .mkString("array(", ",", ")")
      e.withColumn("dists", expr(
          s"transform($lit, c -> aggregate(zip_with(v, c, " +
            "(a, b) -> (a - b) * (a - b)), 0d, (acc, x) -> acc + x))"))
        .withColumn("cluster",
          expr("array_position(dists, array_min(dists)) - 1"))
    }
    for (_ <- 1 to updates) {
      val upd = assigned()
        .select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cluster", "i").agg(round(avg("x"), 6).as("cm"))
        .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2)))
        .toMap
      require(upd.size == k * dim,
        s"empty cluster (got ${upd.size / dim} of $k) — v1 requires all " +
          "clusters populated")
      cents = Array.tabulate(k, dim)((c, i) => upd((c.toLong, i)))
    }
    assigned().select("vec_id", "v", "cluster")
  }

  def kmeansBatch(s: SparkSession, d: String): DataFrame =
    kmeansAssigned(s, d)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), min("vec_id").as("min_vec"))
      .orderBy("cluster")

  /** sim_semdedup: SemDeDup-style semantic deduplication (Abbas et al.
    * 2023, arXiv:2303.09540) — the stage AFTER [[kmeansBatch]]'s
    * clustering: pairwise cosine WITHIN each cluster only, and a document
    * is removed when a lower-id same-cluster document sits above the
    * similarity threshold (min-id keeper, the deterministic version of
    * the paper's keep-one rule). Reports every removed doc with its
    * lowest-id witness, max witness cosine, and witness count.
    *
    * Scale shape: clustering exists precisely to break the corpus-wide
    * O(n²) into per-cluster O(n_c²) — the pair stage is a plain EQUI
    * join on the cluster id (strategy left to Catalyst/AQE: broadcast at
    * toy SF, shuffle-on-cluster at scale; never a cross join), so each
    * cluster's quadratic work is isolated on its reducer and clusters
    * parallelize freely. At 100 TB you raise k so
    * max cluster size stays bounded (the paper's regime) and split or
    * salt any skewed giant cluster; the threshold τ=0.40 is data-relative
    * (this synthetic corpus is near-random, max NN cosine ≈ 0.51). */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    graft.engine.expressions.CosineSimilarity.register(s)
    val asg = kmeansAssigned(s, d)
    val witnesses = asg.select(col("cluster"),
      col("vec_id").as("w_id"), col("v").as("wv"))
    asg.join(witnesses, Seq("cluster"))
      .filter(col("w_id") < col("vec_id"))
      .withColumn("cos", cosExpr("v", "wv"))
      .filter(col("cos") >= 0.40)
      .groupBy("cluster", "vec_id")
      .agg(min("w_id").as("witness_id"), max("cos").as("max_cos"),
        count(lit(1)).as("n_witness"))
      .orderBy("cluster", "vec_id")
  }

  /** sim_topk_pq: product-quantization ANN (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — the memory-side scale
    * lever beyond [[topkQuantized]]'s int8: the 64-dim vector splits into
    * M=4 16-dim subspaces, each with its own k=8 codebook (deterministic
    * init = the 8 lowest vec_ids' sub-vectors, one Lloyd update with
    * round-6 centroids — the [[kmeansAssigned]] recipe per subspace), and
    * every vector is stored as 4 small codes. Search ranks by ASYMMETRIC
    * distance: each query precomputes its M×k table of sub-L2²s against
    * every codebook centroid ONCE (on the broadcast side — 32 doubles
    * per query), and a candidate's distance is 4 table lookups + 3 adds,
    * never a 64-dim fold per pair; the exact cosine of each survivor is
    * reported beside so the quantization error is visible.
    *
    * Scale shape: codebooks are driver state of M·k·(dim/M) doubles
    * (trained on a sample at 100 TB) broadcast as literals; encoding is
    * one scan; the search scan touches only the M·log₂k-bit codes plus
    * the broadcast distance tables, and top-k is the same two-phase
    * local/global rank as [[topkBrute]] — no reducer ever holds more
    * than its scan share. */
  def topkPq(s: SparkSession, d: String): DataFrame = {
    graft.engine.expressions.CosineSimilarity.register(s)
    val m = 4; val k = 8; val sub = 16
    // harness: the train pass, the encode pass, the query fetch and the
    // re-rank fetch are ~6 logical scans of one small parquet — persist
    // collapses them onto one in-memory columnar read. At 100 TB the
    // shape differs by design: the codebooks train on a SAMPLE and the
    // encode pass is the one full corpus scan (see Scaladoc).
    val e = vecs(s, d).persist()
    // init: the 8 lowest vec_ids' sub-vectors, per subspace (driver:
    // tiny). The SAME collect serves the query set — every vector with
    // vec_id < 5 is by definition among the k=8 lowest ids, so one job
    // fetches both instead of two
    val low: Array[(Long, Seq[Double])] = e.orderBy("vec_id").limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val init: Array[Array[Double]] = low.map(_._2.toArray)
    val qRows: Array[(Long, Seq[Double])] = low.filter(_._1 < 5)
    var cents: Array[Array[Array[Double]]] = // [m][c][i]
      Array.tabulate(m, k, sub)((mm, c, i) => init(c)(mm * sub + i))
    // Per-subspace squared L2 between a sub-slice of `v` and a centroid,
    // folded in ascending dimension order — the SAME accumulation order
    // as the SQL `aggregate(zip_with(...), 0d, (acc,x) -> acc+x)` fold
    // the DuckDB oracle mirrors, so distances (and hence argmins and
    // ADC sums) are bit-identical across all three formulations.
    def subL2(v: Seq[Double], cent: Array[Double], off: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < cent.length) {
        val dlt = v(off + i) - cent(i); acc += dlt * dlt; i += 1
      }
      acc
    }
    // Encoding is a TYPED kernel (mapPartitions-class codec, like the
    // multimodal batch kernels): the codebook rides the task closure as
    // plain arrays instead of a 512-double literal expression tree.
    // Two encode passes × M subspaces of literal codebooks was the
    // dominant plan-compile/codegen cost of this query — the arithmetic
    // itself is trivial. Argmin = FIRST minimal centroid (strict <),
    // matching `array_position(d, array_min(d)) - 1`.
    def encoded(): DataFrame = {
      val cb = cents.map(_.map(_.clone)) // snapshot of the var
      import s.implicits._
      e.select(col("vec_id").as("_1"), col("v").as("_2"))
        .as[(Long, Seq[Double])].map { case (id, v) =>
          val codes: Seq[Long] = Array.tabulate(m) { mm =>
            var best = 0L; var bestD = Double.MaxValue; var c = 0
            while (c < cb(mm).length) {
              val dd = subL2(v, cb(mm)(c), mm * sub)
              if (dd < bestD) { bestD = dd; best = c.toLong }
              c += 1
            }
            best
          }.toSeq
          (id, v, codes)
        }.toDF("vec_id", "v", "codes")
        .select(col("vec_id") :: col("v") ::
          (0 until m).map(mm => col("codes")(mm).as(s"code$mm")).toList: _*)
    }
    // one Lloyd update per subspace, in ONE scan with NO shuffle: each
    // partition folds its rows into the m·k per-cell (sum-vector, count)
    // partials inside the SAME typed kernel that assigns codes, and the
    // driver merges the tiny partials (m·k·(sub+1) doubles per
    // partition — the classic map-side-combine k-means update). The
    // per-cell mean is rounded exactly as `round(avg(_), 6)` would be;
    // FP summation order differs per partitioning but round-6 absorbs
    // it, the same tolerance the DuckDB oracle already rides on.
    val partials = {
      val cb = cents.map(_.map(_.clone)) // snapshot
      import s.implicits._
      e.select(col("v").as("_1")).as[Seq[Double]].mapPartitions { it =>
        val sums = Array.fill(m, k)(new Array[Double](sub))
        val cnts = Array.fill(m, k)(0L)
        it.foreach { v =>
          var mm = 0
          while (mm < m) {
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < k) {
              val dd = subL2(v, cb(mm)(c), mm * sub)
              if (dd < bestD) { bestD = dd; best = c }
              c += 1
            }
            var i = 0
            while (i < sub) {
              sums(mm)(best)(i) += v(mm * sub + i); i += 1
            }
            cnts(mm)(best) += 1L
            mm += 1
          }
        }
        Iterator.tabulate(m * k) { j =>
          (j / k, j % k, sums(j / k)(j % k).toSeq, cnts(j / k)(j % k))
        }
      }.collect()
    }
    val cellSum = Array.fill(m, k)(new Array[Double](sub))
    val cellCnt = Array.fill(m, k)(0L)
    partials.foreach { case (mm, c, s2, n2) =>
      var i = 0
      while (i < sub) { cellSum(mm)(c)(i) += s2(i); i += 1 }
      cellCnt(mm)(c) += n2
    }
    require(cellCnt.flatten.forall(_ > 0L),
      "empty PQ cluster — v1 requires all subspace clusters populated")
    // Spark round(x, 6) semantics: BigDecimal of the double's decimal
    // string representation, HALF_UP
    def r6(x: Double): Double = new java.math.BigDecimal(
      java.lang.Double.toString(x))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    cents = Array.tabulate(m, k, sub)((mm, c, i) =>
      r6(cellSum(mm)(c)(i) / cellCnt(mm)(c).toDouble))
    // final encoding: only the M small codes flow into the search scan
    val codes = encoded().select(col("vec_id") +: col("v") +:
      (0 until m).map(mm => col(s"code$mm")): _*)
    // the query set is tiny BY DEFINITION (a search request, already
    // fetched by the init collect above), so the per-query M×k ADC
    // tables (PQ's asymmetric-distance tables) are computed right on
    // the driver — 32 doubles per query, shipped as a LOCAL relation
    // that broadcasts, so a candidate costs 4 lookups + 3 adds instead
    // of a 64-dim fold
    val queries = {
      val lst = new java.util.ArrayList[org.apache.spark.sql.Row]()
      qRows.foreach { case (id, v) =>
        lst.add(org.apache.spark.sql.Row(id, v)) }
      s.createDataFrame(lst, StructType(Seq(
        StructField("q_id", LongType, nullable = false),
        StructField("qv", ArrayType(DoubleType), nullable = false))))
    }
    val qdt = {
      val lst = new java.util.ArrayList[org.apache.spark.sql.Row]()
      qRows.foreach { case (id, v) =>
        lst.add(org.apache.spark.sql.Row(
          id +: (0 until m).map(mm =>
            cents(mm).map(c => subL2(v, c, mm * sub)).toSeq): _*))
      }
      s.createDataFrame(lst, StructType(
        StructField("q_id", LongType, nullable = false) +:
          (0 until m).map(mm => StructField(s"dt$mm",
            ArrayType(DoubleType), nullable = false))))
    }
    val adcSum = (0 until m).map(mm =>
      s"element_at(dt$mm, cast(code$mm as int) + 1)").mkString(" + ")
    // the ranking scan touches ONLY the M codes and the broadcast ADC
    // tables — no 64-dim vector rides through the candidate join or
    // the two top-k shuffles (PQ's whole point at scale: the corpus
    // vectors stay in cold storage during search)
    val scored = codes.drop("v")
      .join(broadcast(qdt), col("vec_id") =!= col("q_id"))
      .withColumn("adc", expr(s"round($adcSum, 6)"))
      .select("q_id", "vec_id", "adc")
    // A 12-bit code distance is honest but coarse, so the shippable ANN
    // shape is ADC-prune → exact re-rank: keep a P=100 candidate pool
    // per query by ADC (a constant — ~0.0001% of a 100 TB corpus),
    // fetch ONLY those vectors, and rank the final top-10 by the exact
    // cosine. The pool cut is the same two-phase local/global rank as
    // [[topkBrute]]; ADC stays in the output so the quantization error
    // is visible next to the exact score.
    val pool = 100
    val local = scored
      .withColumn("pid", spark_partition_id())
      .withColumn("lrk", expr("row_number() over (partition by q_id, pid " +
        "order by adc, vec_id)"))
      .filter(col("lrk") <= pool)
    val cand = local
      .withColumn("prk", expr("row_number() over (partition by q_id " +
        "order by adc, vec_id)"))
      .filter(col("prk") <= pool)
      .select("q_id", "vec_id", "adc")
    // exact cosine ONLY for the pool·|queries| survivors (500 rows):
    // the pool (with its query vectors) BROADCASTS against one corpus
    // scan to fetch candidate vectors — never an exact 64-dim fold for
    // pruned candidates
    val ranked = e.withColumnRenamed("vec_id", "__cand")
      .join(broadcast(cand.join(broadcast(queries), Seq("q_id"))),
        col("__cand") === col("vec_id"))
      .withColumn("cos_exact", cosExpr("qv", "v"))
      .withColumn("rk", expr("row_number() over (partition by q_id " +
        "order by cos_exact desc, vec_id)"))
      .filter(col("rk") <= 10)
      .select("q_id", "rk", "vec_id", "adc", "cos_exact")
      .orderBy("q_id", "rk")
    // the final top-k is ≤ 10·|queries| rows (a search RESPONSE, bounded
    // by construction): materialize it here so the persisted corpus can
    // be unpersisted before returning — no cached blocks leak into the
    // shared session across gate/bench runs — and hand back the tiny
    // result as a local relation with the identical schema/order
    val out = ranked.collect()
    e.unpersist(blocking = false)
    s.createDataFrame(java.util.Arrays.asList(out: _*), ranked.schema)
  }

  val queries: Map[String, Q] = Map(
    "sim_topk_pq" -> (topkPq _),
    "sim_semdedup" -> (semDedup _),
    "sim_kmeans_batch" -> (kmeansBatch _),
    "sim_topk_quantized" -> (topkQuantized _),
    "sim_topk_brute" -> (topkBrute _),
    "sim_topk_ivf"   -> (topkIvf _),
    "sim_topk_srp"   -> (topkSrp _)
  )

  /** DuckDB sequential-fold cosine over DOUBLE[] columns a/b (64 dims). */
  private def cosSql(a: String, b: String): String =
    s"""round(
       |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
       |    i -> $a[i::INTEGER] * $b[i::INTEGER])), (x, y) -> x + y) /
       |  (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(
       |    range(1, 65), i -> $a[i::INTEGER] * $a[i::INTEGER])),
       |    (x, y) -> x + y)) *
       |   sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(
       |    range(1, 65), i -> $b[i::INTEGER] * $b[i::INTEGER])),
       |    (x, y) -> x + y))), 6)""".stripMargin

  /** DuckDB signed dot of v against md5-derived ±1 plane k (same
    * sequential fold + same "k:dim" hash strings as [[topkSrp]]). */
  private def srpDotSql(k: Int): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
       |    i -> v[i::INTEGER] * (CASE WHEN CAST(('0x' ||
       |      substr(md5('$k:' || (i - 1)::VARCHAR), 1, 12)) AS BIGINT)
       |      % 2 = 0 THEN 1.0 ELSE -1.0 END))), (x, y) -> x + y)""".stripMargin

  /** SRP hash-table count L and planes-per-table P — the two recall/
    * cost levers (see [[topkSrp]]); the oracle builds the identical
    * (L, P) tables, so both sides move together. Table t hashes with
    * planes t·P .. t·P+P−1. */
  private[engine] val SrpTables = 12
  private[engine] val SrpPlanes = 6
  /** The embedding width every SRP plane spans. */
  private[engine] val SrpDim = 64

  private def srpBucketSqlT(t: Int): String =
    (0 until SrpPlanes).map { k =>
      s"(CASE WHEN ${srpDotSql(t * SrpPlanes + k)} >= 0 " +
        s"THEN ${1 << k} ELSE 0 END)"
    }.mkString(" + ")

  private val srpBucketSql: String = srpBucketSqlT(0)

  /** Squared-L2 between list cols as the same left fold the Spark side
    * uses (`aggregate(zip_with(...))`). */
  private def l2Sql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
       |      i -> ($a[i::INTEGER] - $b[i::INTEGER]) *
       |           ($a[i::INTEGER] - $b[i::INTEGER]))),
       |      (x, y) -> x + y)""".stripMargin

  // two unrolled Lloyd iterations shared by the kmeans/semdedup oracles:
  // assign (argmin by the identical distance fold, ties to the lowest cid)
  // → per-(cluster, dim) avg rounded to 6 (matching the Spark side's
  // round(avg, 6)) → reassign
  private val kmeansCte: String =
    s"""WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings),
      |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
      |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
      |d1 AS (SELECT e.vec_id, c.cid,
      |    ${l2Sql("e.v", "c.v")} AS dist
      |  FROM e CROSS JOIN c0 c),
      |a1 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
      |c1 AS (SELECT cid, list(cm ORDER BY i) AS v FROM (
      |    SELECT a1.cid AS cid, g.i AS i,
      |      round(avg(e.v[g.i::INTEGER]), 6) AS cm
      |    FROM a1 JOIN e USING (vec_id)
      |    CROSS JOIN generate_series(1, 64) AS g(i)
      |    GROUP BY 1, 2) GROUP BY cid),
      |d2 AS (SELECT e.vec_id, c.cid,
      |    ${l2Sql("e.v", "c.v")} AS dist
      |  FROM e CROSS JOIN c1 c),
      |a2 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cid) AS rn FROM d2) WHERE rn = 1)""".stripMargin

  /** Per-subspace PQ pipeline CTEs (offset o = m·16): init codebook from
    * the 8 lowest vec_ids' sub-vectors → assign → round-6 avg update →
    * re-assign → join each vector's code back to its centroid list. Same
    * left-to-right folds and first-minimum tie-break as [[topkPq]]. */
  private def pqSubCte(mm: Int): String = {
    val o = mm * 16
    def l2sub(a: String, cv: String): String =
      s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 17),
         |      i -> ($a[(i + $o)::INTEGER] - $cv[i::INTEGER]) *
         |           ($a[(i + $o)::INTEGER] - $cv[i::INTEGER]))),
         |      (x, y) -> x + y)""".stripMargin
    s"""i$mm AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |    list_transform(range(1, 17), i -> v[(i + $o)::INTEGER]) AS cv
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
       |a$mm AS (SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${l2sub("e.v", "c.cv")}, c.cid) AS rn
       |    FROM e CROSS JOIN i$mm c) WHERE rn = 1),
       |c$mm AS (SELECT cid, list(cm ORDER BY i) AS cv FROM (
       |    SELECT a.cid AS cid, g.i AS i,
       |      round(avg(e.v[(g.i + $o)::INTEGER]), 6) AS cm
       |    FROM a$mm a JOIN e USING (vec_id)
       |    CROSS JOIN generate_series(1, 16) AS g(i)
       |    GROUP BY 1, 2) GROUP BY cid),
       |r$mm AS (SELECT vec_id, cv FROM (
       |    SELECT e.vec_id, c.cv, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${l2sub("e.v", "c.cv")}, c.cid) AS rn
       |    FROM e CROSS JOIN c$mm c) WHERE rn = 1)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // PQ: 4 independent 16-dim codebooks; candidates ranked by L2² between
    // the query and the candidate's reconstruction (concat of its 4
    // centroids); exact cosine reported beside
    "sim_topk_pq" ->
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |${(0 until 4).map(pqSubCte).mkString(",\n")},
        |rec AS (SELECT e.vec_id, e.v,
        |    list_concat(list_concat(r0.cv, r1.cv),
        |      list_concat(r2.cv, r3.cv)) AS rv
        |  FROM e JOIN r0 USING (vec_id) JOIN r1 USING (vec_id)
        |    JOIN r2 USING (vec_id) JOIN r3 USING (vec_id)),
        |scored AS (SELECT q.vec_id AS q_id, c.vec_id,
        |    round(${(0 until 4).map(mm =>
          s"""list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(range(${mm * 16 + 1}, ${mm * 16 + 17}),
        |        i -> (q.v[i::INTEGER] - c.rv[i::INTEGER]) *
        |             (q.v[i::INTEGER] - c.rv[i::INTEGER]))),
        |      (x, y) -> x + y)""").mkString(" +\n        |    ")}, 6) AS adc,
        |    ${cosSql("q.v", "c.v")} AS cos_exact
        |  FROM e q JOIN rec c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |pool AS (SELECT q_id, vec_id, adc, cos_exact FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc, vec_id) AS prk FROM scored) WHERE prk <= 100),
        |r AS (SELECT q_id, vec_id, adc, cos_exact, row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos_exact DESC, vec_id) AS rk
        |  FROM pool)
        |SELECT q_id, rk, vec_id, adc, cos_exact FROM r WHERE rk <= 10
        |ORDER BY q_id, rk""".stripMargin,
    "sim_kmeans_batch" ->
      s"""$kmeansCte
        |SELECT cid AS cluster, count(*) AS n, min(vec_id) AS min_vec
        |FROM a2 GROUP BY 1 ORDER BY cluster""".stripMargin,
    // within-cluster pairwise cosine (identical fold + round-6), removed =
    // has a lower-id same-cluster witness at cos >= 0.40; min-id witness
    "sim_semdedup" ->
      s"""$kmeansCte,
        |asg AS (SELECT a2.vec_id, a2.cid AS cluster, e.v
        |  FROM a2 JOIN e USING (vec_id)),
        |pr AS (SELECT x.cluster, x.vec_id, y.vec_id AS w_id,
        |    ${cosSql("x.v", "y.v")} AS cos
        |  FROM asg x JOIN asg y
        |    ON y.cluster = x.cluster AND y.vec_id < x.vec_id)
        |SELECT cluster, vec_id, min(w_id) AS witness_id,
        |  max(cos) AS max_cos, count(*) AS n_witness
        |FROM pr WHERE cos >= 0.40
        |GROUP BY 1, 2 ORDER BY cluster, vec_id""".stripMargin,
    "sim_topk_srp" ->
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |bkt AS (${(0 until SrpTables).map(t =>
             s"SELECT vec_id, v, $t AS tbl, ${srpBucketSqlT(t)} AS bucket " +
               "FROM e").mkString("\n  UNION ALL ")}),
        |probes AS (
        |  SELECT vec_id AS q_id, tbl, unnest([bucket,
        |    ${(0 until SrpPlanes).map(k => s"xor(bucket, ${1 << k})")
             .mkString(", ")}]) AS bucket
        |  FROM bkt WHERE vec_id < 5),
        |cand AS (SELECT DISTINCT p.q_id, b.vec_id
        |  FROM probes p JOIN bkt b ON b.tbl = p.tbl AND b.bucket = p.bucket
        |  WHERE b.vec_id <> p.q_id),
        |scored AS (SELECT c.q_id, c.vec_id,
        |    ${cosSql("q.v", "x.v")} AS cos
        |  FROM cand c JOIN e q ON q.vec_id = c.q_id
        |  JOIN e x ON x.vec_id = c.vec_id),
        |r AS (SELECT q_id, vec_id, cos, row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM scored)
        |SELECT q_id, rk, vec_id, cos FROM r WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,
    "sim_topk_quantized" ->
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |q8 AS (SELECT vec_id, v,
        |    list_transform(v, x -> CAST(round(x * 127.0 /
        |      greatest(list_aggregate(list_transform(v, y -> abs(y)),
        |        'max'), 1e-12)) AS BIGINT)) AS qv
        |  FROM e),
        |n8 AS (SELECT vec_id, v, qv,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(qv, x -> x * x)), (a, b) -> a + b) AS nq
        |  FROM q8),
        |scored AS (SELECT q.vec_id AS q_id, e.vec_id,
        |    round(list_reduce(list_prepend(0::BIGINT,
        |        list_transform(range(1, 65),
        |          i -> q.qv[i::INTEGER] * e.qv[i::INTEGER])),
        |        (a, b) -> a + b) /
        |      (sqrt(q.nq::DOUBLE) * sqrt(e.nq::DOUBLE)), 6) AS cos_q,
        |    ${cosSql("q.v", "e.v")} AS cos_exact
        |  FROM n8 q JOIN n8 e ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
        |r AS (SELECT q_id, vec_id, cos_q, cos_exact, row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos_q DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT q_id, rk, vec_id, cos_q, cos_exact FROM r WHERE rk <= 10
        |ORDER BY q_id, rk""".stripMargin,
    "sim_topk_brute" ->
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |scored AS (SELECT q.vec_id AS q_id, e.vec_id,
        |    ${cosSql("q.v", "e.v")} AS cos
        |  FROM e q JOIN e ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
        |r AS (SELECT q_id, vec_id, cos, row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM scored)
        |SELECT q_id, rk, vec_id, cos FROM r WHERE rk <= 10
        |ORDER BY q_id, rk""".stripMargin,
    "sim_topk_ivf" ->
      s"""WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % 97 = 0),
        |asg AS (SELECT vec_id, v, cluster FROM (
        |  SELECT e.vec_id, e.v, c.c_id AS cluster, row_number() OVER (
        |      PARTITION BY e.vec_id
        |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.c_id) AS crk
        |    FROM e JOIN cents c ON true) t WHERE crk <= 2),
        |probes AS (SELECT q_id, qv, cluster FROM (
        |  SELECT q.vec_id AS q_id, q.v AS qv, c.c_id AS cluster,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cosSql("q.v", "c.cv")} DESC, c.c_id) AS crk
        |    FROM e q JOIN cents c ON q.vec_id BETWEEN 1 AND 3) t
        |  WHERE crk <= 3),
        |cand AS (SELECT DISTINCT p.q_id, a.vec_id
        |  FROM probes p JOIN asg a ON a.cluster = p.cluster
        |  WHERE a.vec_id <> p.q_id),
        |scored AS (SELECT c.q_id, c.vec_id,
        |    ${cosSql("q.v", "x.v")} AS cos
        |  FROM cand c JOIN e q ON q.vec_id = c.q_id
        |  JOIN e x ON x.vec_id = c.vec_id),
        |r AS (SELECT q_id, vec_id, cos, row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM scored)
        |SELECT q_id, rk, vec_id, cos FROM r WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin
  )
}
