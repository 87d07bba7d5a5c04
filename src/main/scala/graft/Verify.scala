package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional: query names after outDir restrict the run (local iteration)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // opt-in fast-gate profile (2-chunk live replays, results
      // identical by the chunking-invariance contract): lets this same
      // oracle gate PROVE the profile result-identical — default stays
      // full replay
      .config("graft.live.fastGates",
        sys.env.get("SPARK_GRAFT_FAST_GATES").contains("1").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Zero-row tripwire: an oracle gate whose Spark side returns ZERO rows
    // hash-matches empty-vs-empty — formally green, evidentially vacuous
    // (round-10 lesson: three gates sat green on empty for two rounds).
    // Every such gate is flagged loudly and recorded in zero_rows.json.
    val zeroRows = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir).coalesce(1).cache()
        out.write.mode("overwrite").parquet(s"$outDir/$name")
        if (out.isEmpty && SparkEntry.oracleSql.contains(name)) {
          zeroRows += name
          System.err.println(s"[verify] SUSPECT zero-row oracle gate: $name")
        }
        out.unpersist()
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a name-restricted run writes only its own oracle entries, so
    // check.py compares exactly the queries that ran
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/zero_rows.json"),
      zeroRows.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
