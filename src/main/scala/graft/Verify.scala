package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter for fast
    // local iteration (the driver always runs the full 2-arg form), or
    // "--oracle-only" to dump oracle_sql.json without running queries
    // (feeds tools/check.py --lint-only, the HUGEINT type lint)
    val oracleOnly = args.drop(2).headOption.contains("--oracle-only")
    val only: Option[Set[String]] = args.drop(2).headOption
      .filterNot(_ == "--oracle-only")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String) = only.forall(_.contains(name))
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!oracleOnly && selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
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
    // ALWAYS the full oracle map, even under a query-name filter: the
    // filter scopes which queries RUN (fast local iteration), but a
    // filtered oracle dump silently downgrades every other entry to a
    // rows-only check on the next full tools/check.py pass — a 0-row
    // entry (legitimate, e.g. dedup_exact at sf0.01) then reads as
    // FAIL even though its hash-compare passes.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Staged-oracle artifacts (driver-side sf10 measurement plumbing;
    // the round driver ignores these — see DedupQueries.stageSql):
    // stage_sql.json = the materialization templates, and
    // oracle_sql_staged.json = each chain oracle rewritten onto the
    // staged views by exact-string substitution (only entries whose
    // SQL actually changed are included).
    def dumpJson(path: String, m: Map[String, String]): Unit =
      Files.writeString(Paths.get(path),
        m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    dumpJson(s"$outDir/stage_sql.json", _root_.graft.queries.DedupQueries.stageSql)
    val staged = SparkEntry.oracleSql.flatMap { case (k, sql) =>
      val rewritten = _root_.graft.queries.DedupQueries.stagedRewrite(sql)
      if (rewritten != sql) Some(k -> rewritten) else None
    }
    dumpJson(s"$outDir/oracle_sql_staged.json", staged)
    spark.stop()
  }
}
