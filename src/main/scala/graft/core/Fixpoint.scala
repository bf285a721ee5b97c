package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** The one skeleton every iterative operator runs on — the engine's
  * analogue of the reference's single phase runner: the loop policy
  * (width, checkpointing, convergence, cleanup) lives here once, and an
  * operator supplies only its round.
  *
  * The caller persists the corpus-derived inputs its rounds read (an
  * edge list, a distinct pair set) and hands them over as `owned`:
  * `persist()` plans them on the spot, at the SESSION width and with
  * the session's AQE, so corpus-proportional upstreams keep the width
  * the corpus is tuned for. [[iterate]] then, in order:
  *   1. opens the loop scope: `spark.sql.shuffle.partitions` pinned to
  *      the loop width and AQE off (see below), restored on exit;
  *   2. materializes `init` as round 0 with one eager local checkpoint —
  *      the job that also fills the owned caches. A checkpoint taken
  *      inside the scope keeps its plan's output partitioning (one
  *      taken under AQE reports none), so rounds over a co-partitioned
  *      state plan no exchange. With `materializeInit = false` round 0
  *      stays lazy and joins the first checkpoint's job — for a seed
  *      only round 1 reads, where a checkpoint is a job with no reuse;
  *   3. runs `step` up to `maxRounds` times, checkpointing every
  *      `checkpointEvery`-th round and the last one — every round for
  *      loops that reference their state twice (a lazy chain would
  *      double the plan per round), every k rounds for loops that chain
  *      lazily (PageRank);
  *   4. if a `signature` is given, observes it on each checkpoint — the
  *      probe rides the checkpoint action as one `observe()`, never a
  *      job of its own — and stops at the first checkpoint whose
  *      signature equals the previous one's (round 0 included);
  *   5. unpersists the caller's `owned` frames, however the loop exits.
  *
  * It returns every round's frame, so census operators (k-core, SSSP,
  * PageRank mass) read their per-round rows off [[Result.frames]]
  * without a loop of their own.
  *
  * WIDTH: iterative operators whose per-round state is a small DERIVED
  * structure (a duplicate graph, a BFS frontier, a peeled edge list)
  * rather than the corpus pay task-scheduling overhead per round for
  * nearly empty partitions at the corpus-tuned width. [[forRows]] and
  * [[forBytes]] size the loop for the derived structure, clamped to the
  * session width: at 100 TB the size term exceeds the clamp and the
  * rounds keep the session-width plan. AQE exists to size UNKNOWN
  * shuffles at runtime; inside the loop the width was just derived, so
  * it would only charge per-round overhead (stage-by-stage submission
  * barriers, re-optimization of every tiny query stage) — measured on
  * the iterative family at sf0.1: q_pagerank 4.27 -> 1.80 s, q_sssp
  * 2.30 -> 1.03 s with AQE off. Lazy plans the caller builds on the
  * result re-plan at the session width, with AQE, at action time.
  *
  * CONCURRENCY CONTRACT: the width is set on the session's SQLConf, so
  * it applies to EVERY plan that reaches an action on this SparkSession
  * while the rounds run — the skeleton assumes the single-threaded-
  * driver model the queries()/Verify/Bench harness uses (one query at a
  * time per session). A multi-threaded driver sharing one session must
  * instead give the loop its own `spark.newSession()` (isolated SQLConf
  * over the same shared state and cache), so a corpus-sized plan on
  * another thread can never plan its shuffles at the loop's narrow
  * width. Corpus-sized subtrees a round reads must be persisted before
  * the scope opens for the same reason — the owned inputs are. */
object Fixpoint {

  /** A finished loop: `frames(r)` is round r's frame (round 0 = `init`;
    * checkpointed rounds are checkpoint reads, the others lazy), so
    * `frames.size - 1` rounds ran, and `converged` says the signature
    * stopped moving (always false without a signature). */
  final case class Result(frames: IndexedSeq[DataFrame], converged: Boolean) {
    def last: DataFrame = frames.last
  }

  def iterate(init: DataFrame, width: Int, maxRounds: Int,
      checkpointEvery: Int = 1, signature: Seq[Column] = Nil,
      owned: Seq[DataFrame] = Nil, materializeInit: Boolean = true)
      (step: (DataFrame, Int) => DataFrame): Result = {
    require(maxRounds >= 0 && checkpointEvery >= 1 && width >= 1)
    try scoped(init.sparkSession, width) {
      val (first, sig0) =
        if (materializeInit) checkpoint(init, signature) else (init, Map.empty[String, Any])
      val frames = ArrayBuffer(first)
      var last = sig0
      var converged = false
      while (frames.length <= maxRounds && !converged) {
        val r = frames.length
        val next = step(frames.last, r)
        if (r % checkpointEvery == 0 || r == maxRounds) {
          val (done, sig) = checkpoint(next, signature)
          frames += done
          converged = sig.nonEmpty && sig == last
          last = sig
        } else frames += next
      }
      Result(frames.toIndexedSeq, converged)
    } finally owned.foreach(_.unpersist())
  }

  /** `df` materialized with one eager local checkpoint, plus the values
    * of `signature` (aggregate columns) observed on that same action —
    * empty when no signature is asked for (an eager local checkpoint
    * runs as a Dataset action, so observed metrics fire on it). The
    * only checkpoint call in
    * the engine: loops reach it through [[iterate]], loop preparation
    * (a count that sizes the width, a side table the read-off needs
    * after the loop's inputs are released) directly. */
  def checkpoint(df: DataFrame, signature: Seq[Column] = Nil)
      : (DataFrame, Map[String, Any]) =
    if (signature.isEmpty) (df.localCheckpoint(eager = true), Map.empty)
    else {
      val obs = Observation()
      val done = df.observe(obs, signature.head, signature.tail: _*)
        .localCheckpoint(eager = true)
      (done, obs.get)
    }

  /** Session shuffle width — the corpus-tuned ceiling every derived
    * width is clamped to. */
  def sessionWidth(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Loop width from a MATERIALIZED row count: one partition per
    * `rowsPerPartition` rows of per-round state, clamped to [1, session
    * width]. The target trades the measured ~0.1–0.3 s fixed cost a task
    * pays at any size (task-binary deserialization, codegen wait,
    * shuffle-file creation) against ≥ that much real work per task —
    * 256k narrow rows is ~0.1–0.5 s of join+agg. A 32-wide round over a
    * few-hundred-edge dup graph pays 32 fixed costs per round for
    * microseconds of work; the same rule at a 10^9-edge graph clamps to
    * the session width and changes nothing. */
  def forRows(spark: SparkSession, rows: Long, rowsPerPartition: Long = 1L << 18): Int = {
    require(rows >= 0 && rowsPerPartition > 0)
    clamp(spark, (rows + rowsPerPartition - 1) / rowsPerPartition)
  }

  /** Loop width from the ANCHOR TABLE's on-disk bytes (driver-side file
    * listing, no job — the same size-derivation the scan planner itself
    * uses): one partition per `bytesPerPartition` of anchor input,
    * clamped to [1, session width]. Derived loop structures (edge lists,
    * frontiers, label tables) are bounded by a projection of their
    * anchor, so anchor bytes is a safe over-estimate; 4 MB of compressed
    * anchor input is roughly the 256k-row target of [[forRows]]. */
  def forBytes(spark: SparkSession, anchorBytes: Long, bytesPerPartition: Long = 4L << 20): Int = {
    require(anchorBytes >= 0 && bytesPerPartition > 0)
    clamp(spark, (anchorBytes + bytesPerPartition - 1) / bytesPerPartition)
  }

  private def clamp(spark: SparkSession, need: Long): Int =
    math.max(1L, math.min(need, sessionWidth(spark).toLong)).toInt

  private def scoped[T](spark: SparkSession, width: Int)(body: => T): T = {
    val conf = spark.conf
    val (key, aqeKey) = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val (prev, prevAqe) = (conf.get(key), conf.get(aqeKey, "true"))
    conf.set(key, width.toString)
    conf.set(aqeKey, "false")
    try body finally {
      conf.set(key, prev)
      conf.set(aqeKey, prevAqe)
    }
  }
}
