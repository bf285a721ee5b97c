package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The measured process of one benchmark run: set up a session, run one
  * workload's jobs back to back (a closed loop with one client), check
  * every output outside the timed region, and write the raw results as
  * JSON for `run.py`, which derives the reported metrics.
  *
  * {{{
  * Main <workload> <seconds> <min_ops> <trace 0|1> <cores> <limit_s> <deadline_s> <work> <input> <out.json>
  * }}} */
object Main {
  final case class Op(pass: Int, name: String, wallS: Double, ok: Boolean,
      error: Option[String], dump: Option[String] = None)

  final case class Ctx(spark: SparkSession, cores: Int, tracer: Tracer,
      limitS: Double, work: String, input: String) {
    def sc = spark.sparkContext
    /** JVM garbage-collection seconds inside timed ops */
    var gcS = 0.0
    def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
      tracer.span(sc, name, attrs)(body)

    private var worker: ExecutorService = newWorker()
    private def newWorker() = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
    }

    /** Run `body` on the op thread under a job group, and cancel the group
      * when it runs past the limit. Left carries the error. */
    def limited[T](group: String, untimed: Boolean = false)(body: => T): Either[String, T] = {
      val f = worker.submit(new Callable[T] {
        def call(): T = {
          sc.setJobGroup(group, group, interruptOnCancel = true)
          sc.setLocalProperty(Probe.UntimedKey, if (untimed) "1" else null)
          try body finally sc.clearJobGroup()
        }
      })
      try Right(f.get((limitS * 1e9).toLong, TimeUnit.NANOSECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          try f.get(30, TimeUnit.SECONDS)
          catch {
            case _: TimeoutException =>
              // stuck outside Spark's reach: abandon the thread
              worker.shutdownNow(); worker = newWorker()
            case _: Throwable => ()
          }
          Left(f"timeout: over the ${limitS}%.0f s limit")
        case e: ExecutionException => Left(describe(e.getCause))
      }
    }
  }

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
    s"${e.getClass.getName}: $msg"
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the same scan split size Bench and Verify use
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      // suite outputs are compared with DuckDB, which reads micros
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since the JVM started, as the JVM reports its start time. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def setUp(cores: Int, work: String): (SparkSession, Double) = {
    val spark = session(cores, work)
    val built = sinceJvmStart()
    // one untimed warm-up job: the first job pays scheduler and codegen
    // start-up that no workload should be charged
    spark.range(0, 100000, 1, cores).selectExpr("sum(id)").collect()
    val setupS = sinceJvmStart()
    System.err.println(f"[perfbench] session built at $built%.3f s, warm-up done at $setupS%.3f s")
    (spark, setupS)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, minOps, trace, cores, limit, deadline, work, input, out) = args
    val (spark, setupS) = setUp(cores.toInt, work)
    val tracer = new Tracer(s"$workload-${System.currentTimeMillis()}")
    val ctx = Ctx(spark, cores.toInt, tracer, limit.toDouble, work, input)
    val w: Workload = workload match {
      case "graysort" => new GraySort(ctx)
      case "mapreduce" => new MapReduce(ctx)
      case "suite" => new Suite(ctx)
    }
    w.warmUp()
    val probe = new Probe(tracer)
    val execProbe = new ExecProbe(tracer)
    if (trace == "1") {
      tracer.enabled = true
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(execProbe)
    }
    val t0 = System.nanoTime()
    val ops = Seq.newBuilder[Op]
    var timed = 0.0
    var pass = 0
    // closed loop: the next job starts when the previous one has ended
    while ((pass < minOps.toInt || timed < seconds.toDouble) &&
        (System.nanoTime() - t0) / 1e9 < deadline.toDouble) {
      val done = w.runOnce(pass, t0 + (deadline.toDouble * 1e9).toLong)
      timed += done.map(_.wallS).sum
      ops ++= done
      pass += 1
    }
    val rss = peakRssMb()
    val all = ops.result()
    System.err.println(f"[perfbench] loop done in ${(System.nanoTime() - t0) / 1e9}%.3f s, " +
      f"timed ${all.map(_.wallS).sum}%.3f s")
    var layers = Map.empty[String, Any]
    if (tracer.enabled) {
      org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
      val spans = tracer.all
      def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
      // forced and timed where the harness holds the frame; mapreduce builds
      // its frames inside ThemisJob.sequence, so it reports none
      val catalyst = Seq("analyze", "optimize", "plan")
        .map(p => s"catalyst.${p}_s" -> spanS(s"catalyst.$p")).toMap
      val self = Tracer.selfSeconds(spans)
      val counters = probe.snapshot()
      val perPass = (counters ++ catalyst ++ Map(
        "queries.construct_s" -> spanS("construct"),
        "exec.run_s" -> spanS("exec.run"),
        "jvm.gc_s" -> ctx.gcS,
        "self.op_s" -> self.getOrElse("op", 0.0),
        "self.construct_s" -> self.getOrElse("construct", 0.0),
        "self.exec_s" -> self.getOrElse("exec.run", 0.0),
        "self.job_s" -> self.getOrElse("spark.job", 0.0),
        "self.stage_s" -> self.getOrElse("spark.stage", 0.0)))
        .map { case (k, v) => k -> v / pass }
      val wall = all.map(_.wallS).sum
      layers = perPass ++ Map(
        "sched.busy_frac" -> counters.getOrElse("sched.task_s", 0.0) /
          (cores.toDouble * math.max(wall, 1e-9)),
        "task.skew" -> probe.worstTaskSkew) ++ w.layerMetrics(pass)
      val origin = spans.headOption.map(_.startNs).getOrElse(0L)
      Files.writeString(new File(work, "trace.json").toPath, Json(Map(
        "run" -> tracer.runId, "workload" -> workload,
        "spans" -> spans.map(s => Map("run" -> tracer.runId, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_us" -> (s.startNs - origin) / 1000,
          "end_us" -> (s.endNs - origin) / 1000, "attrs" -> s.attrs)),
        "self_s" -> self,
        "sql_errors" -> execProbe.errors.asScala.toSeq) ++ w.traceRecords(spans)))
    }
    val result = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> rss,
      "input_bytes" -> w.inputBytes,
      "limit_s" -> limit.toDouble,
      "passes" -> pass,
      "ops" -> all.map(o => Map("pass" -> o.pass, "name" -> o.name, "wall_s" -> o.wallS,
        "ok" -> o.ok, "error" -> o.error, "dump" -> o.dump)),
      "layers" -> layers) ++ w.extra()
    Files.writeString(Paths.get(out), Json(result))
    spark.stop()
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
