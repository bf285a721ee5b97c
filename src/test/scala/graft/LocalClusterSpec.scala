package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one class of bug local[32] can never catch: serialization and
  * codegen of the custom surface ACROSS EXECUTOR JVMS — a Catalyst
  * expression capturing a non-serializable field, a broadcast boundary
  * list that only works driver-local, a task closure dragging a session
  * in. `local-cluster[2,4,1024]` is stock Spark's standalone-in-a-box:
  * real separate executor processes on this machine, real serialized
  * tasks/broadcasts, no cluster needed.
  *
  * Gated behind SPARK_CLUSTER_CHECK=1 because a JVM owns one
  * SparkContext at a time — this suite builds its own sessions and must
  * run ALONE, with SPARK_HOME set so the worker can fork executors:
  * {{{
  * SPARK_CLUSTER_CHECK=1 SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   sbt "testOnly graft.LocalClusterSpec"
  * }}}
  * (SPARK_SCALA_VERSION because the dist's launcher cannot infer the
  * Scala version outside a source checkout — without it every executor
  * dies with "Cannot find any build directories".)
  * In a normal `sbt test` the single test is CANCELED (assume), not
  * passed — the report shows it didn't run.
  *
  * The check: 22 headline queries spanning every custom-expression
  * family (native tokenize, murmur64, vector dot/L2 kernels, boundary
  * placement, LSH/IVF broadcasts, iterative graph state, the sync-framed
  * splittable `.kvs` source, the JDK-codec-in-closure decode path)
  * plus a synthesized SnapshotStore
  * commit+read must produce HASH-IDENTICAL results on local-cluster vs
  * in-process local[4].
  * Queries are decimal/integer-exact by oracle design, so partition
  * evaluation order cannot excuse a hash drift. */
class LocalClusterSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Every custom-expression family is represented; see scaladoc.
    * q_binary_export (r13) drives the sync-framed splittable `.kvs`
    * write+read — one of the two custom IO paths that must cross real
    * executor JVMs (the other, a SnapshotStore commit, has no registry
    * query and is synthesized in [[snapshotHash]]). */
  private val heads = Seq(
    "q1_pricing_summary", "q3_topk_orders", "q5_nation_revenue",
    "q8_setops", "q_sort_global", "q_wordcount", "q_ngram",
    "q_dedup_exact", "q_dedup_minhash", "q_knn_brute", "q_ann_ivf",
    "q_ann_lsh_multi", "q_quality_classifier", "q_sessionize_gap",
    "q_pagerank", "q_bm25_topk", "q_grep", "q_sum_values",
    "q_gensort_checksum", "q_cdc_chunks", "q_binary_export",
    // r14: the real-codec scan — ImageIO writer/reader instantiated
    // INSIDE the task closure must initialize its plugin registry on a
    // real executor JVM, not inherit the driver's
    "q_image_decode",
    // r15: the AVI container codec + per-frame BMP decode, and the
    // persisted-fingerprint serve (DeferredIngest index built from a
    // codec scan) — both must survive real cross-JVM execution
    "q_video_decode", "q_image_dedup_serve")

  private def session(master: String): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    // executors of a local-cluster are forked JVMs: they get Spark's own
    // jars from SPARK_HOME but need the graft classes explicitly (a
    // local master has no executor JVM and ignores the classpath)
    val classes = Seq("target/scala-2.13/classes",
        "target/scala-2.13/test-classes")
      .map(p => new java.io.File(p).getAbsolutePath)
      .filter(p => new java.io.File(p).isDirectory)
      .mkString(java.io.File.pathSeparator)
    GraftSession.build(8,
      Map("spark.master" -> master, "spark.executor.extraClassPath" -> classes))
  }

  /** SnapshotStore commit + read as a synthetic head: the custom lake IO
    * path (claim CAS, manifest write, marker seal, snapshot scan) crossing
    * real executor JVMs — the parquet data writes and the snapshot read
    * run AS TASKS on the forked executors; the claim/manifest arbitration
    * stays driver-side, exactly the production split. Two appends over
    * documents-derived rows, census of the v2 read; content is
    * deterministic, so the hash must match across masters. */
  private def snapshotHash(spark: SparkSession, tag: String): String = {
    import org.apache.spark.sql.functions._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_lc_snap_$tag"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val w = graft.streaming.SnapshotStore.appendWriter(dir)
      w(docs.filter(col("doc_id") % 2 === 0), 0L)
      w(docs.filter(col("doc_id") % 2 =!= 0), 1L)
      val snap = graft.streaming.SnapshotStore.read(spark, dir)
        .getOrElse(sys.error(s"no committed snapshot under $dir"))
      val row = snap.agg(count(lit(1)), sum(col("doc_id")),
        sum(col("n_chars")), countDistinct(col("lang"))).collect().head
      row.toSeq.map(String.valueOf).mkString(":")
    } finally fs.delete(p, true)
  }

  /** Canonical result hash: rows rendered column-by-column, sorted, so
    * partitioning/task order cannot matter — only values can. */
  private def resultHashes(master: String): Map[String, String] = {
    val spark = session(master)
    try {
      val byName = SparkEntry.registry.map(q => q.name -> q).toMap
      val snap = "x_snapshot_commit" ->
        snapshotHash(spark, master.replaceAll("\\W+", "_"))
      Map(snap) ++ heads.map { n =>
        val df = byName(n).run(spark, sfDir)
        val lines = df.collect().map(_.toSeq.map {
          case null => "\u0000"
          case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
          case x => String.valueOf(x)
        }.mkString("\u0001")).sorted
        graft.core.Caches.release()
        val md = java.security.MessageDigest.getInstance("MD5")
        lines.foreach(l => md.update(l.getBytes("UTF-8")))
        n -> (lines.length + ":" + md.digest().map("%02x".format(_)).mkString)
      }.toMap
    } finally spark.stop()
  }

  test("22 headline queries + a SnapshotStore commit hash-identical " +
      "across executor JVMs (local-cluster[2,4,1024] vs local[4])") {
    assume(sys.env.get("SPARK_CLUSTER_CHECK").contains("1"),
      "multi-executor check runs alone: SPARK_CLUSTER_CHECK=1 " +
        "SPARK_HOME=/opt/spark sbt 'testOnly graft.LocalClusterSpec'")
    assume(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must point at a Spark dist so workers can fork executors")
    val cluster = resultHashes("local-cluster[2,4,1024]")
    val local = resultHashes("local[4]")
    val all = heads :+ "x_snapshot_commit"
    val diffs = all.filter(n => cluster(n) != local(n))
    assert(diffs.isEmpty,
      diffs.map(n => s"$n: cluster=${cluster(n)} local=${local(n)}")
        .mkString("cross-JVM hash drift:\n", "\n", ""))
    // and the cluster run actually produced rows (not 21 empty frames)
    assert(heads.forall(n => !cluster(n).startsWith("0:")),
      "cluster run returned empty results")
    assert(!cluster("x_snapshot_commit").startsWith("0:"),
      "cluster SnapshotStore read returned no rows")
  }
}
