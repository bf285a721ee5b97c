package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkEntry
import graft.api.ThemisJob
import graft.core.Caches
import graft.plans.DeferredIngest
import graft.sources.{TextLines, ThemisKV}

import Main.{Ctx, Op}

/** One workload: `runOnce` runs one job (graysort, mapreduce) or one pass
  * over the headline queries (suite), times it, and checks its outputs
  * outside the timed region. */
trait Workload {
  def inputBytes: Long
  /** Untimed, unchecked jobs before the timed loop, so that the timed jobs
    * run compiled code rather than the JIT's first tiers. */
  def warmUp(): Unit = ()
  def runOnce(pass: Int, deadlineNs: Long): Seq[Op]
  /** Workload-specific per-layer values, read once after the loop in a
    * traced run; `passes` is the number of `runOnce` calls. */
  def layerMetrics(passes: Int): Map[String, Double] = Map.empty
  /** Extra content for the trace file. */
  def traceRecords(spans: Seq[Span]): Map[String, Any] = Map.empty
  /** Extra fields for the raw result. */
  def extra(): Map[String, Any] = Map.empty

  /** Time `body` on the op thread; a throw, a timeout or a failed check
    * all make the op fail. */
  protected def timedOp(c: Ctx, pass: Int, name: String)(body: => Unit)(
      check: => Unit): Op = {
    val gc0 = Main.gcSeconds()
    val t0 = System.nanoTime()
    val run = c.limited(s"$name-$pass")(body)
    val wall = (System.nanoTime() - t0) / 1e9
    c.gcS += Main.gcSeconds() - gc0
    val checked = run.flatMap(_ => c.limited(s"$name-check-$pass", untimed = true)(check)
      .left.map(e => s"wrong output: $e"))
    Op(pass, name, wall, checked.isRight, checked.left.toOption)
  }

  protected def forceCatalyst(c: Ctx, df: DataFrame): Unit = if (c.tracer.enabled) {
    val qe = df.queryExecution
    c.span("catalyst.analyze")(qe.analyzed)
    c.span("catalyst.optimize")(qe.optimizedPlan)
    c.span("catalyst.plan")(qe.executedPlan)
  }

  protected def manifest(path: String): Map[String, Long] =
    "\"(\\w+)\":(-?\\d+)".r.findAllMatchIn(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  protected def fileBytes(dir: String, suffix: String): Seq[Long] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(suffix)).sortBy(_.getName).map(_.length)

  protected def skew(counts: Seq[Long]): Double =
    if (counts.isEmpty || counts.sum == 0) 0.0
    else counts.max.toDouble / (counts.sum.toDouble / counts.size)
}

/** The Themis 2-IO GraySort: fixed-width read, sample-based range
  * partition, in-partition sort, fixed-width write. */
final class GraySort(c: Ctx) extends Workload {
  private val m = manifest(c.input + ".manifest")
  val inputBytes: Long = m("bytes")
  private val outDir = s"${c.work}/graysort_out"
  private var outSplits = Seq.empty[Long]

  private def read(dir: String): DataFrame =
    c.spark.read.format("graft-fixed")
      .option("record.length", Gen.RecordLen).option("key.length", Gen.KeyLen).load(dir)

  private def sort(): Unit = {
    val sorted = c.span("construct") {
      read(c.input).repartitionByRange(c.cores, col("key")).sortWithinPartitions(col("key"))
    }
    forceCatalyst(c, sorted)
    c.span("exec.run")(ThemisKV.writeFixed(sorted, outDir, Gen.RecordLen, Gen.KeyLen))
  }

  override def warmUp(): Unit = for (_ <- 1 to 2) sort()

  def runOnce(pass: Int, deadlineNs: Long): Seq[Op] = Seq(timedOp(c, pass, "graysort") {
    c.span("op", Map("job" -> pass))(sort())
  } {
    val parts = read(outDir).mapPartitions(GraySort.summarize)(Encoders.tuple(
      Encoders.BINARY, Encoders.BINARY, Encoders.scalaBoolean, Encoders.scalaLong,
      Encoders.scalaLong)).collect()
    val n = parts.map(_._4).sum
    require(n == m("records"), s"record count $n != ${m("records")}")
    require(parts.forall(_._3), "an output split is not sorted")
    parts.sortWith((x, y) => GraySort.cmp(x._1, y._1) < 0).sliding(2).foreach {
      case Array(lo, hi) => require(GraySort.cmp(lo._2, hi._1) <= 0,
        "output splits overlap: keys are not in global order")
      case _ =>
    }
    val sum = parts.map(_._5).sum
    require(sum == m("checksum"), s"record checksum $sum != input's ${m("checksum")}")
    outSplits = fileBytes(outDir, ".bin").map(_ / Gen.RecordLen)
  })

  override def layerMetrics(passes: Int): Map[String, Double] = {
    // the scan alone, through the graft-fixed source
    val t0 = System.nanoTime()
    read(c.input).write.format("noop").mode("overwrite").save()
    val scanS = (System.nanoTime() - t0) / 1e9
    Map(
      "sources.out_mb" -> fileBytes(outDir, ".bin").sum / 1e6,
      "sources.scan_mb_s" -> inputBytes / 1e6 / scanS,
      "api.records_out" -> outSplits.sum.toDouble,
      "api.partition_skew" -> skew(outSplits))
  }
}

object GraySort {
  def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** valsort over one split: (first key, last key, sorted, records, checksum). */
  val summarize: Iterator[Row] => Iterator[(Array[Byte], Array[Byte], Boolean, Long, Long)] = it =>
    if (!it.hasNext) Iterator.empty
    else {
      var first: Array[Byte] = null
      var prev: Array[Byte] = null
      var sorted = true
      var n = 0L
      var sum = 0L
      val rec = new Array[Byte](Gen.RecordLen)
      it.foreach { r =>
        val k = r.getAs[Array[Byte]](0)
        val v = r.getAs[Array[Byte]](1)
        if (first == null) first = k
        else if (cmp(prev, k) > 0) sorted = false
        prev = k
        System.arraycopy(k, 0, rec, 0, k.length)
        System.arraycopy(v, 0, rec, k.length, v.length)
        sum += Gen.recordCrc(rec)
        n += 1
      }
      Iterator((first, prev, sorted, n, sum))
    }
}

/** A two-job `ThemisJob.sequence`: an inverted index (tokenize to
  * (word, doc), murmur64 hashed-range partition, secondary sort on doc,
  * posting lists from `SortedGroups`), then a range-partitioned sort of
  * the index by document frequency. */
final class MapReduce(c: Ctx) extends Workload {
  private val m = manifest(c.input + ".manifest")
  val inputBytes: Long = m("bytes")
  private val indexDir = s"${c.work}/mr_index"
  private val sortedDir = s"${c.work}/mr_by_df"
  private var outParts = Seq.empty[Long]

  /** (rows, digest) of the same index, computed independently with
    * DataFrame operators. */
  private lazy val reference: (Long, Long) = {
    val p = c.spark.read.text(c.input).filter(length(col("value")) > 0)
      .select(split(col("value"), "\t").as("p"))
    val r = p.select(col("p")(0).as("doc"), explode(split(col("p")(1), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .groupBy("word").agg(count(lit(1)).as("df"),
        array_join(array_sort(collect_list("doc")), ",").as("postings"))
      .agg(count(lit(1)), sum(MapReduce.rowDigest)).head()
    (r.getLong(0), r.getLong(1))
  }

  private def chain(): Unit = c.span("exec.run") {
    ThemisJob.sequence(TextLines.read(c.spark, c.input), Seq(
      (MapReduce.indexJob(c.cores) _, indexDir),
      (MapReduce.byDfJob(c.cores) _, sortedDir)))
  }

  override def warmUp(): Unit = for (_ <- 1 to 2) chain()

  def runOnce(pass: Int, deadlineNs: Long): Seq[Op] = Seq(timedOp(c, pass, "mapreduce") {
    c.span("op", Map("job" -> pass))(chain())
  } {
    // per output file: df range, rows, and a digest of (word, df, postings)
    val files = c.spark.read.parquet(sortedDir).groupBy(input_file_name().as("f"))
      .agg(min("df"), max("df"), count(lit(1)), sum(MapReduce.rowDigest)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val (rows, digest) = (files.map(_._4).sum, files.map(_._5).sum)
    require((rows, digest) == reference,
      s"index has $rows rows (digest $digest); the DataFrame groupBy gives " +
        s"${reference._1} rows (digest ${reference._2})")
    // range partitioning by df: each file's df range follows the previous one's
    files.sliding(2).foreach {
      case Array(a, b) => require(a._3 <= b._2, s"df ranges overlap: ${a._1} and ${b._1}")
      case _ =>
    }
    outParts = files.map(_._4).toSeq
  })

  override def layerMetrics(passes: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    TextLines.read(c.spark, c.input).write.format("noop").mode("overwrite").save()
    val scanS = (System.nanoTime() - t0) / 1e9
    Map(
      "sources.out_mb" -> (fileBytes(indexDir, ".parquet").sum +
        fileBytes(sortedDir, ".parquet").sum) / 1e6,
      "sources.scan_mb_s" -> inputBytes / 1e6 / scanS,
      "api.records_out" -> outParts.sum.toDouble,
      "api.partition_skew" -> skew(outParts))
  }
}

object MapReduce {
  /** A 40-bit hash per index row; summed, it stands for the row multiset. */
  val rowDigest = pmod(xxhash64(col("word"), col("df"), col("postings")), lit(1L << 40))

  private val pairSchema = StructType(Seq(
    StructField("word", StringType), StructField("doc", StringType)))
  private val indexSchema = StructType(Seq(StructField("word", StringType),
    StructField("df", LongType), StructField("postings", StringType)))

  /** `d<doc>\t<words>` → one (word, doc) record per word. */
  def tokenize(r: Row): IterableOnce[Row] = {
    val line = r.getString(1)
    val tab = line.indexOf('\t')
    if (tab < 0) Nil
    else {
      val doc = line.substring(0, tab)
      line.substring(tab + 1).split(' ').iterator.filter(_.nonEmpty).map(w => Row(w, doc))
    }
  }

  /** One word's group, ordered by doc → (word, document frequency, postings). */
  def postings(key: Row, group: Seq[Row]): Iterator[Row] = {
    val b = new java.lang.StringBuilder
    var last: String = null
    var n = 0L
    group.foreach { r =>
      val d = r.getString(1)
      if (d != last) { if (n > 0) b.append(','); b.append(d); n += 1; last = d }
    }
    Iterator(Row(key.getString(0), n, b.toString))
  }

  def indexJob(n: Int)(in: DataFrame): ThemisJob.Job[Row] =
    ThemisJob.Job[Row](in, pairSchema, Some(tokenize _), Seq("word"), Seq("doc"),
      ThemisJob.HashedRangePartition(n), postings _)(Encoders.row(indexSchema))

  def byDfJob(n: Int)(in: DataFrame): ThemisJob.Job[Row] =
    ThemisJob.Job[Row](in, indexSchema, None, Seq("df"), Seq("word"),
      ThemisJob.RangePartition(n), (_: Row, group: Seq[Row]) => group.iterator)(
      Encoders.row(indexSchema))
}

/** Every `SparkEntry.headlines` query in registry order, in one session,
  * into a noop sink, releasing tracked caches between queries as Bench
  * does. Each result is dumped outside the timed region for the DuckDB
  * oracle compare in `run.py`. */
final class Suite(c: Ctx) extends Workload {
  private val names = SparkEntry.headlines
  val inputBytes: Long = fileBytes(c.input, ".parquet").sum
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def runOnce(pass: Int, deadlineNs: Long): Seq[Op] = names.map { name =>
    if (System.nanoTime() > deadlineNs)
      Op(pass, name, 0.0, ok = false, Some("not run: the run's deadline passed"))
    else {
      DeferredIngest.resetBodyNanos()
      var df: DataFrame = null
      val op = timedOp(c, pass, name) {
        c.span("op", Map("query" -> name)) {
          df = c.span("construct")(SparkEntry.queries(name)(c.spark, c.input))
          forceCatalyst(c, df)
          c.span("exec.run")(df.write.format("noop").mode("overwrite").save())
        }
        acc("plans.ingest_s") += DeferredIngest.bodySeconds()
      } {
        df.write.mode("overwrite").parquet(dumpDir(pass, name))
      }
      if (c.tracer.enabled)
        acc("core.cached_mb") = math.max(acc("core.cached_mb"),
          c.sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
      val t0 = System.nanoTime()
      c.span("core.release")(Caches.release())
      acc("core.release_s") += (System.nanoTime() - t0) / 1e9
      if (op.ok) op.copy(dump = Some(dumpDir(pass, name))) else op
    }
  }

  private def dumpDir(pass: Int, name: String) = s"${c.work}/dump/$pass/$name"

  override def layerMetrics(passes: Int): Map[String, Double] = Map(
    "plans.ingest_s" -> acc("plans.ingest_s") / passes,
    "core.release_s" -> acc("core.release_s") / passes,
    "core.cached_mb" -> acc("core.cached_mb"))

  /** One span tree per query, rooted at its op span. */
  override def traceRecords(spans: Seq[Span]): Map[String, Any] = {
    val kids = spans.groupBy(_.parent)
    def tree(s: Span): Map[String, Any] = Map("name" -> s.name, "s" -> s.seconds,
      "attrs" -> s.attrs, "children" -> kids.getOrElse(s.id, Nil).map(tree))
    Map("queries" -> spans.filter(s => s.name == "op").map(s =>
      Map("query" -> s.attrs.getOrElse("query", ""), "tree" -> tree(s))))
  }

  override def extra(): Map[String, Any] =
    Map("oracle" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
}
