package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in an oracle SQL string would otherwise make
    * the checker's json.load fail and silently zero the correctness check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (same contract as Bench): run a subset via
    // SPARK_GRAFT_ONLY=c4_tfidf_search,a3_bm25_search; driver sets nothing
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    val failed = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // a thrown query writes NO dump dir — make that loud at the END of the
    // run too (a per-query stderr line scrolls away inside Spark logs; the
    // round-8 events-timestamp breakage hid behind exactly that)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size}/${selected.size} queries THREW: " +
          failed.mkString(", "))
    // under SPARK_GRAFT_ONLY, dump only the selected queries' oracles:
    // check.py unions declared oracles with dumped dirs, so a full
    // oracle_sql.json against a subset dump would FAIL every unselected
    // query as "no output parquet". SPARK_GRAFT_ORACLE_ALL=1 overrides —
    // for re-running a few queries INTO a complete dump dir (a subset
    // repair run) where the full oracle map must survive.
    val oracleAll =
      sys.env.get("SPARK_GRAFT_ORACLE_ALL").exists(v => v == "1" || v == "true")
    val oracles = only match {
      case Some(names) if !oracleAll =>
        SparkEntry.oracleSql.filter { case (n, _) => names(n) }
      case _ => SparkEntry.oracleSql
    }
    val json = oracles
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
