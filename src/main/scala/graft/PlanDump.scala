package graft

import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool: writes `.explain("formatted")`
  * output for each named query (default: every bench headline) to
  * `<outDir>/<query>_<tag>.txt` — the plan artifacts the optimization
  * judge checks claims against (plans/rNN/<query>_before.txt / _after.txt).
  *
  * The session is [[GraftSession]]'s, as in [[Bench]], so the dumped
  * plan is the plan the bench actually times. Construction only — no
  * query is executed, so the dump is cheap enough to run before and
  * after every change.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <tag> [query...]")
    val (outDir, tag, only) = (args(0), args(1), args.drop(2).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (only.nonEmpty) SparkEntry.headlines.filter(only) ++
        (only -- SparkEntry.headlines.toSet).toSeq.sorted
      else SparkEntry.headlines
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        System.err.println(s"[plandump] $name ok")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      } finally graft.core.Caches.release()
    }
    spark.stop()
  }
}
