package graft
import graft.core.Sessions
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (local dev)]
    val sfDir = args(0); val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.build("graft-verify",
      master = Some(s"local[${Sessions.localCores}]"))
    new java.io.File(outDir).mkdirs()
    // A query that fails to run must be RECORDED, not just absent: the
    // round-8 loader break left 9 queries silently missing from the
    // correctness artifact (only a timing run's error count caught it).
    // Failures go to stderr for the log AND to errors.json for
    // auditors/check.py.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        // a failed query must not leave a STALE dump from an earlier run
        // in place — the compare would hash old results against the
        // current oracle and could print a contradictory OK row for a
        // query errors.json says failed (r9 advice)
        deleteRecursively(new java.io.File(s"$outDir/$name"))
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // the FULL contract roster, so check.py can assert every query has
    // either a result dir or an errors row — a query silently SKIPPED
    // (filter bug, not failure) must not produce a green-looking
    // artifact. Written even for filtered dev runs (the filter is
    // recorded so coverage is judged against what was asked to run).
    val ranNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    Files.writeString(Paths.get(s"$outDir/contract.json"),
      ranNames.map(q).mkString("[", ",", "]"))
    val ran = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    System.err.println(s"[verify] done: n_ok=${ran - errors.size} n_err=${errors.size}")
    spark.stop()
  }
}
