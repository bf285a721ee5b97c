package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every main and spec builds through, so
  * the session config cannot drift between the harness that times a
  * query, the one that checks it and the tools that profile it.
  *
  * Base config, at `local[cpus]`:
  *   - [[graft.functions.GraftExtensions]] (custom expressions, the
  *     DeferredIngest strategy);
  *   - shuffle width = `cpus`, session time zone UTC, UI off;
  *   - micros parquet timestamps — DuckDB TIMESTAMP resolution, so the
  *     oracle's value compare sees identical instants (INT96 would read
  *     back as ns and can confuse dtype normalization);
  *   - 16 MB scan splits: the test corpora ship one parquet file per
  *     table, and at replica-drive volume (100×: documents.parquet is
  *     ~600 MB, lineitem ~1.1 GB) the 128 MB default leaves a 32-thread
  *     box scanning 5-wide. Testdata row groups are small (~122k rows),
  *     so 16 MB still cuts on row-group boundaries; sf0.01/sf0.1 files
  *     are under 16 MB and keep their single split;
  *   - a warehouse under the JVM temp dir, so catalog tables (the
  *     bucketed-layout queries) keep their metadata out of the cwd.
  *
  * `overrides` are applied last (`spark.master` replaces the local
  * master). Log level is WARN. */
object GraftSession {

  /** Core count for local sessions: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cpus: Int = GraftSession.cpus,
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val base = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.ui.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> (16L << 20).toString,
      "spark.sql.warehouse.dir" -> s"${sys.props("java.io.tmpdir")}/graft_warehouse")
    val spark = (base ++ overrides)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
