package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract is exactly 2 args. Local-dev filtering (fast
    // Verify+selfcheck loop on just-changed entries) requires the
    // EXPLICIT `--only=name,name` flag — a stray bare extra argument is
    // an error, not a silent subset run that would dump a
    // complete-looking oracle_sql.json over a fraction of the inventory.
    val Array(sfDir, outDir) = args.take(2)
    val extra = args.drop(2)
    val only: Set[String] = extra.toList match {
      case Nil => Set.empty
      case s :: Nil if s.startsWith("--only=") =>
        s.stripPrefix("--only=").split(',').map(_.trim).filter(_.nonEmpty).toSet
      case other =>
        sys.error(s"unexpected args ${other.mkString(" ")}; " +
          "use --only=name,name to filter the inventory")
    }
    def keep(name: String) = only.isEmpty || only.contains(name)
    if (only.nonEmpty) {
      val total = SparkEntry.queries.size
      val n = SparkEntry.queries.keys.count(keep)
      System.err.println(
        s"[verify] *** FILTERED RUN ($n of $total queries) — NOT a " +
          "complete verification ***")
    }
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    if (only.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/_FILTERED"),
        only.toSeq.sorted.mkString("\n"))
    // Failures must be LOUD in the artifact: a swallowed exception here
    // silently shrinks CORRECTNESS (round 5 lost 56 entries with rc=0).
    // Collect per-query errors into outDir/_ERRORS.json alongside the dumps.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected = SparkEntry.queries.filter(kv => keep(kv._1))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(500)
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
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // ALWAYS written — an empty object on success — so a missing
    // _ERRORS.json is distinguishable from "Verify crashed before the
    // error pass". The exit code intentionally stays 0 even on partial
    // failure: if the driver aborted its DuckDB compare on a nonzero rc,
    // one flaky query would zero the whole round's CORRECTNESS instead
    // of costing one entry; the artifact, not the rc, carries the signal.
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_ERRORS.json"), errJson)
    val ok = selected.size - errors.size
    System.err.println(
      s"[verify] $ok of ${selected.size} queries dumped" +
        (if (errors.nonEmpty)
           s"; ${errors.size} FAILED (see $outDir/_ERRORS.json): " +
             errors.keys.mkString(", ")
         else ""))
    spark.stop()
  }
}
