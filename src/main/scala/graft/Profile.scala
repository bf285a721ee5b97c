package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Optimization-round profiling tool: runs the named headline queries
  * under the exact [[Bench]] session config and prints a per-STAGE time
  * breakdown (wall ms, task-time ms, task count, callsite) for the LAST
  * pass — the steady-state pass Bench's min-of-3 reports. Guide §1's
  * empirical loop without the UI (disabled in this sandbox).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profile q_a q_b"`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.get("SPARK_PROFILE_PASSES").map(_.toInt).getOrElse(2)
    // A/B experiment overrides: SPARK_PROFILE_CONF="k=v;k2=v2"
    val overrides = sys.env.getOrElse("SPARK_PROFILE_CONF", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val spark = GraftSession.build(overrides = overrides.toMap)
    if (overrides.nonEmpty)
      println(s"==CONF== ${overrides.map { case (k, v) => s"$k=$v" }.mkString(";")}")

    case class StageRow(name: String, wallMs: Long, taskMs: Long, nTasks: Int,
      inRec: Long, sRead: Long, sWrite: Long, details: String)
    val rows = mutable.ArrayBuffer.empty[StageRow]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val i = sc.stageInfo
          val wall = (for {
            a <- i.completionTime; b <- i.submissionTime
          } yield a - b).getOrElse(-1L)
          val m = i.taskMetrics
          System.err.println(s"[stagemetrics] id=${i.stageId} run=${m.executorRunTime} " +
            s"deser=${m.executorDeserializeTime} gc=${m.jvmGCTime} " +
            s"cpu=${m.executorCpuTime / 1000000} deserCpu=${m.executorDeserializeCpuTime / 1000000} " +
            s"fetchWait=${m.shuffleReadMetrics.fetchWaitTime} " +
            s"writeTime=${m.shuffleWriteMetrics.writeTime / 1000000} tasks=${i.numTasks}")
          rows += StageRow(i.name, wall, m.executorRunTime, i.numTasks,
            m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten,
            i.details.linesIterator.filterNot(_.contains("Profile.scala"))
              .drop(1).take(3).mkString(" <- "))
        }
    })

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm passes: codegen+JIT, leave caches in Bench's steady state
      (1 until passes).foreach { _ =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        graft.core.Caches.release()
      }
      rows.clear()
      record = true
      // the noop write runs its own QueryExecution; grab the executed one
      @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
      val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          lastQe = qe
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(qeListener)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(200)
      spark.listenerManager.unregister(qeListener)
      // operator-level attribution: walk the EXECUTED plan (AQE-final,
      // metrics populated) and print every node whose duration/time
      // metric is non-trivial
      if (sys.env.get("SPARK_PROFILE_PLAN").contains("1")) {
        def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
          val interesting = p.metrics.filter { case (k, m) =>
            (k.toLowerCase.contains("time") || k.toLowerCase.contains("duration") ||
              k == "numOutputRows") && m.value > 0 }
          println("  " * d + s"[plan] ${p.nodeName} " + interesting.map {
            case (k, m) => s"$k=${m.value}" }.mkString(" "))
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              walk(a.executedPlan, d + 1)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              walk(q.plan, d + 1)
            case r: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              walk(r.relation.cachedPlan, d + 1)
            case _ => p.children.foreach(walk(_, d + 1))
          }
        }
        walk(Option(lastQe).map(_.executedPlan)
          .getOrElse(df.queryExecution.executedPlan), 0)
      }
      graft.core.Caches.release()
      // listener bus is async; give it a beat before reading
      Thread.sleep(300)
      println(f"==PROFILE== $name total ${dt}%.3f s, ${rows.size} stages")
      rows.sortBy(-_.wallMs).take(30).foreach { r =>
        println(f"  ${r.wallMs}%6d ms wall ${r.taskMs}%7d ms task ${r.nTasks}%4d tasks in=${r.inRec}%-8d sr=${r.sRead}%-8d sw=${r.sWrite}%-8d ${r.name.take(60)}")
        println(s"      ${r.details.take(200)}")
      }
    }
    spark.stop()
  }
}
