package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: restrict the dump to the named queries (local
    // iteration; the driver always runs the full registry)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // repartition(1), not coalesce(1): coalesce fuses into the final
    // stage, so an exchange-free plan (scan→project dumps) would run
    // single-task END TO END — unnoticeable at sf0.01, a straggler at
    // replica-scale drives. The explicit shuffle keeps the query itself
    // at full parallelism and only serializes the one-file write, which
    // the result must pay anyway.
    val failed = dumpAll(SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) => name -> (() =>
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
      })
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
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED ${failed.size}: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Runs every named dump, a throwing one included, and returns the
    * names that threw — a failed query is a named failure, never a
    * silently missing dump. Each query's tracked caches are dropped after
    * it, so a 200-query dump doesn't accumulate storage across unrelated
    * plans. Per-query progress goes to stderr: a drive that stalls is
    * diagnosable from the log's last line (learned at 100×, where the
    * silent dump loop gave no clue which query was grinding). */
  def dumpAll(dumps: Seq[(String, () => Unit)]): Seq[String] =
    dumps.flatMap { case (name, dump) =>
      val t0 = System.nanoTime()
      try {
        dump()
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      } finally graft.core.Caches.release()
    }
}
