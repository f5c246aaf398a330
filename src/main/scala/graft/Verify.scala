package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.engine.Graft.session("graft-verify", defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated query-name filter (same knob as Bench):
    // isolated dumps for oracle triage without the full-suite run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    val secs = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // Stale-dump guard: clear this query's output BEFORE running, so
      // a failure leaves nothing — a leftover dump from a previous run
      // in the same outDir would otherwise be compared as if it were
      // this build's result (observed: a failed query "passing" or
      // "failing" against a dump written hours earlier).
      rm(new java.io.File(s"$outDir/$name"))
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A thrown query must stay VISIBLE in the artifact: without a
        // marker, its row simply vanishes from the correctness compare
        // and an errored query is indistinguishable from an
        // unregistered one (e4 disappeared from CORRECTNESS_r10 this
        // way). The dir + _ERROR.txt makes the failure a loud per-query
        // row for any downstream reader.
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"),
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}\n")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query wall seconds of this correctness run — at 130+ queries
    // the gate's own cost is material; this makes it visible per round
    // (includes the coalesce(1) dump write, so it is a dump cost, not
    // a bench number).
    Files.writeString(Paths.get(s"$outDir/query_secs.json"),
      secs.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          s"${quote(k)}: ${"%.3f".formatLocal(java.util.Locale.ROOT, v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in a query's oracle SQL would otherwise make
    * the JSON unreadable and silently void the whole oracle check.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
