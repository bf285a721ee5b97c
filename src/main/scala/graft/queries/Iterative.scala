package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fixpoint, GQuery, Tables}
import graft.core.Caches.TrackedOps

/** Iterative dataflows — the reference's chained-job pattern
  * (`job_spec_generators/pagerank.py:16-39`, `utils.py:71-79
  * run_in_sequence`; `KMeansMapFunction.cc` / `KMeansReduceFunction.cc`)
  * re-expressed as driver-side Scala loops over DataFrames, which is the
  * Spark-native equivalent of Themis's sequenced jobs: each iteration is
  * one shuffle stage, and the loop lives on the driver, not in the data.
  *
  * Both queries use *scaled-integer* arithmetic (ranks ×1e6, embedding
  * coords ×1e6) so every iteration is exact and the DuckDB oracle matches
  * bit-for-bit regardless of aggregation order. (At extreme scale the
  * rank sums stay < 2^63 for graphs up to ~1e9 nodes; beyond that, switch
  * the rank column to double — the integer form exists for deterministic
  * verification.)
  */
object Iterative {

  /** PageRank, 3 power iterations, damping 0.85, over the bipartite
    * part↔supplier graph from lineitem (both directions, so every node
    * has out-edges — no dangling mass). Node ids are namespaced:
    * part → 2k, supplier → 2k+1.
    *
    * Per iteration: one equi-join rank⋈edges + one hash aggregation —
    * exactly the tagged-union-through-shuffle the reference emulates in
    * `PageRankMapFunction.cc:8-43`/`PageRankReduceFunction.cc:6-64`, but
    * as a real join. The edge list and its degree table are cached
    * across iterations. */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    // Three fixed iterations chain lazily into one job over the cached
    // edge list. For long/unbounded iteration counts, checkpoint every
    // few rounds instead (lineage growth re-optimizes the whole prefix
    // each step — see pagerankDouble); at 3 the chain is cheaper than
    // extra job boundaries.
    pagerankLoop(s, dir, 3, checkpointEvery = 3, 1000000L)(
      expr("rank DIV d"),
      expr("150000 + (850000 * contrib) DIV 1000000")).last

  /** The part↔supplier bipartite edge list (src-hash layout, 2 columns)
    * plus its node-sized out-degree side table — the shared graph all
    * PageRank variants iterate over. r16 carried
    * the degree ON the edge rows via a whole-partition window; r17
    * profiling showed that window paying a 1.2M-row sort at edge-build
    * time (10.3 s task time at sf0.1) and fattening every per-iteration
    * edge read by a third. The degree is a function of src alone, so it
    * lives in a node-sized table instead: the degree agg runs ON the
    * cached src-hash layout (no exchange — groupBy(src) is satisfied by
    * the repartition), and each iteration attaches rank DIV d on the
    * NODE side before the edge join (per-edge value is identical — it
    * never depended on the edge). Symmetrize with ONE explode pass (a
    * union of two projections would run the scan+distinct subtree twice
    * — DataFrames share no common subplans). Both are persisted lazily;
    * the loop's first checkpoint materializes them. */
  private def edgesAndDegrees(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val edges = base.select(explode(array(
        struct((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst")),
        struct((col("l_suppkey") * 2 + 1).as("src"), (col("l_partkey") * 2).as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .persist()
    val degrees = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("d"))
      .select(col("src").as("node"), col("d"))
      .persist()
    (edges, degrees)
  }

  /** The PageRank round, shared by every variant: `share` is a node's
    * per-edge contribution from its `rank` and degree `d`, `damp` the
    * new rank from the summed `contrib`. The loop width derives from the
    * anchor table's bytes ([[graft.core.Fixpoint.forBytes]]): the graph
    * is a distinct projection of lineitem, so at bench scale (MBs of
    * anchor) the rounds run a few partitions wide instead of paying the
    * full session width's per-task fixed costs per round, while at
    * 100 TB the byte term exceeds the clamp and the rounds keep the
    * session-width plan. */
  private def pagerankLoop(s: SparkSession, dir: String, iters: Int,
      checkpointEvery: Int, rank0: Any)(share: Column, damp: Column)
      : Fixpoint.Result = {
    val w = Fixpoint.forBytes(s, Tables.tableBytes(s, dir, "lineitem"))
    val (edges, degrees) = edgesAndDegrees(s, dir)
    // seed straight off the degree table — it IS distinct(src), and it
    // arrives already src-hash-partitioned from the cached layout; only
    // round 1 reads it, so it stays lazy
    Fixpoint.iterate(degrees.select(col("node"), lit(rank0).as("rank")), w,
        iters, checkpointEvery, owned = Seq(edges, degrees),
        materializeInit = false) { (ranks, _) =>
      // shuffled-hash join, building on the node-state side: avoids
      // re-sorting the cached edge list every iteration (SMJ would),
      // and unlike a broadcast stays valid when node state is huge.
      // The share attaches on the node side (degrees ⋈ ranks, both
      // node-sized and co-partitioned) before the edge join.
      val contribs = degrees
        .join(ranks.hint("shuffle_hash"), Seq("node"))
        .select(col("node"), share.as("c"))
      edges.join(contribs.hint("shuffle_hash"), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("contrib"))
        .select(col("dst").as("node"), damp.as("rank"))
    }
  }

  private val doubleShare = col("rank") / col("d")
  private val doubleDamp = lit(0.15) + lit(0.85) * col("contrib")

  /** Production PageRank: double-precision ranks (the scaled-integer form
    * above exists for oracle exactness and overflows past ~1e9 nodes) and
    * an unbounded iteration count with checkpoint-every-k — each
    * checkpoint cuts the lineage so Catalyst re-optimizes a constant-size
    * plan per round instead of the whole prefix, which is what keeps a
    * 50-iteration run from quadratic planning cost. Not oracle-checked
    * (double summation order is engine- and run-dependent); PageRankSpec
    * asserts rank-order agreement with the integer-exact form. */
  def pagerankDouble(s: SparkSession, dir: String,
      iters: Int = 3, checkpointEvery: Int = 3): DataFrame =
    pagerankLoop(s, dir, iters, checkpointEvery, 1.0)(doubleShare, doubleDamp).last

  /** Conserved-mass census of the double-precision PageRank — the
    * portable face of [[pagerankDouble]]: one row per iteration with the
    * node count and total rank mass scaled to integer milli-units.
    *
    * Why this IS oracle-exact when the per-node doubles are not: on the
    * symmetrized graph every node has out-degree ≥ 1, so each
    * iteration's total mass obeys S_i = 0.15·N + 0.85·S_{i-1} with
    * S_0 = N — identically N at every iteration in real arithmetic. The
    * engines disagree only in floating-point summation ORDER, an error
    * ~1e-11·N, so `round(S·1000)` = N·1000 exactly on both. A real
    * regression (degree bug, dropped edges, wrong damping) shifts mass
    * by whole units and fails loudly. The per-node double ranks stay a
    * library surface ([[pagerankDouble]]), rank-order-parity-checked
    * against the integer-exact form in PageRankSpec.
    *
    * Each iteration is referenced twice (census + next round), so ranks
    * checkpoint every round — which is also what cuts lineage for long
    * runs. */
  def pagerankDoubleMass(s: SparkSession, dir: String, iters: Int = 3): DataFrame =
    pagerankLoop(s, dir, iters, checkpointEvery = 1, 1.0)(doubleShare, doubleDamp)
      .frames.zipWithIndex.drop(1).map { case (ranks, i) =>
        ranks.agg(count(lit(1)).as("n_nodes"),
            expr("CAST(round(SUM(rank) * 1000) AS BIGINT)").as("mass_milli"))
          .select(lit(i.toLong).as("iter"), col("n_nodes"), col("mass_milli"))
      }.reduce(_.unionByName(_))

  private val pagerankDoubleMassSql = {
    def iter(prev: String, out: String) =
      s"""$out AS (
        |  SELECT dst AS node, 0.15 + 0.85 * contrib AS rank FROM (
        |    SELECT e.dst, SUM(r.rank / e.d) AS contrib
        |    FROM ed e JOIN $prev r ON e.src = r.node GROUP BY e.dst) t)""".stripMargin
    def census(i: Int) =
      s"""SELECT CAST($i AS BIGINT) AS iter, COUNT(*) AS n_nodes,
        |  CAST(round(SUM(rank) * 1000) AS BIGINT) AS mass_milli FROM r$i""".stripMargin
    s"""WITH base AS (
      |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |edges AS (
      |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM base
      |  UNION ALL
      |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM base),
      |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
      |ed AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d ON e.src = d.src),
      |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg),
      |${iter("r0", "r1")},
      |${iter("r1", "r2")},
      |${iter("r2", "r3")}
      |${census(1)}
      |UNION ALL
      |${census(2)}
      |UNION ALL
      |${census(3)}""".stripMargin
  }

  private val pagerankSql = {
    def iter(prev: String, out: String) =
      s"""$out AS (
        |  SELECT dst AS node, CAST(150000 + (850000 * contrib) // 1000000 AS BIGINT) AS rank FROM (
        |    SELECT e.dst, SUM(r.rank // e.d) AS contrib
        |    FROM ed e JOIN $prev r ON e.src = r.node GROUP BY e.dst) t)""".stripMargin
    s"""WITH base AS (
      |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |edges AS (
      |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM base
      |  UNION ALL
      |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM base),
      |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
      |ed AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d ON e.src = d.src),
      |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
      |${iter("r0", "r1")},
      |${iter("r1", "r2")},
      |${iter("r2", "r3")}
      |SELECT node, rank FROM r3""".stripMargin
  }

  /** HITS hubs & authorities over the DIRECTED part→supplier purchase
    * graph (hubs = parts, authorities = suppliers), 3 max-normalized
    * iterations in scaled-integer arithmetic: h(p) ← Σ a(s) over p's
    * suppliers, a(s) ← Σ h(p) over s's parts, each renormalized to
    * max = 1e6 with integer DIV (max-normalization converges to the same
    * ranking as the textbook L2 form and stays oracle-exact). Completes
    * the link-analysis family next to [[pagerank]].
    *
    * Scale shape: the edge list is cached TWICE, once hash-partitioned
    * per join side (`by p` for the authority update, `by sup` for the hub
    * update) — each half-iteration then exchanges only the node-score
    * side, never the edges; the normalizer is a 1-row aggregate
    * cross-joined back (a broadcast, not a driver round-trip). Scores
    * checkpoint per half-step because the max aggregate references the
    * same subtree a second time (lazy chaining would double the plan per
    * half-step). */
  def hits(s: SparkSession, dir: String): DataFrame =
    hitsGraph(Tables.lineitem(s, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sup")).distinct())

  /** [[hits]] over an explicit (p, sup) edge frame (spec surface). Each
    * half-step is one loop round: odd rounds derive hubs from the
    * previous authorities, even rounds authorities from those hubs, so
    * rounds 5 and 6 are the third iteration's scores. */
  private[graft] def hitsGraph(base: DataFrame): DataFrame = {
    val edgesByP = base.repartition(col("p")).persist()
    val edgesBySup = base.repartition(col("sup")).persist()
    val a0 = edgesBySup.select(col("sup")).distinct()
      .select(col("sup"), lit(1000000L).as("a"))
    // both edge caches are laid out at the session width, so the rounds
    // run there too and never re-exchange them
    val f = Fixpoint.iterate(a0, Fixpoint.sessionWidth(base.sparkSession), 6,
        owned = Seq(edgesByP, edgesBySup)) { (prev, r) =>
      val (edges, from, to, prevScore, score) =
        if (r % 2 == 1) (edgesBySup, "sup", "p", "a", "h")
        else (edgesByP, "p", "sup", "h", "a")
      val raw = edges.join(prev.hint("shuffle_hash"), from)
        .groupBy(col(to)).agg(sum(col(prevScore)).as("raw"))
      raw.crossJoin(raw.agg(max(col("raw")).as("top")))
        .select(col(to), expr("(raw * 1000000) DIV top").as(score))
    }
    f.frames(5).select(lit("hub").as("role"), col("p").as("node"), col("h").as("score"))
      .union(f.frames(6).select(lit("authority").as("role"), col("sup").as("node"),
        col("a").as("score")))
  }

  private val hitsSql = {
    // Every CTE here is referenced at least twice (once by the next
    // half-step, once by its own MAX normalizer). DuckDB INLINES
    // non-materialized CTEs per reference, so without MATERIALIZED the
    // re-evaluation doubles per half-step — 2^6 base-join replays over
    // three iterations, which at 10× data burned CPU-hours and spilled
    // the sandbox disk to death. MATERIALIZED pins each half-step to
    // one evaluation, same rows.
    def iter(aPrev: String, i: Int) =
      s"""h$i AS MATERIALIZED (SELECT p, SUM(a) AS hr FROM e JOIN $aPrev USING (sup) GROUP BY p),
        |hn$i AS MATERIALIZED (SELECT p, hr * 1000000 // (SELECT MAX(hr) FROM h$i) AS h FROM h$i),
        |a$i AS MATERIALIZED (SELECT sup, SUM(h) AS ar FROM e JOIN hn$i USING (p) GROUP BY sup),
        |an$i AS MATERIALIZED (SELECT sup, ar * 1000000 // (SELECT MAX(ar) FROM a$i) AS a FROM a$i)""".stripMargin
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_partkey AS p, l_suppkey AS sup FROM lineitem),
      |an0 AS MATERIALIZED (SELECT DISTINCT sup, CAST(1000000 AS BIGINT) AS a FROM e),
      |${iter("an0", 1)},
      |${iter("an1", 2)},
      |${iter("an2", 3)}
      |SELECT 'hub' AS role, p AS node, CAST(h AS BIGINT) AS score FROM hn3
      |UNION ALL
      |SELECT 'authority', sup, CAST(a AS BIGINT) FROM an3""".stripMargin
  }

  /** Two Lloyd iterations of k-means (k = 10, centers seeded from the
    * first 10 vectors), in the exploded-dimension relational form:
    * points live as (vec_id, dim, value) rows, centroid update is a
    * (cid, dim) hash aggregation with integer mean (sum DIV n), distance
    * is a (vec_id, cid) aggregation. All shuffles are hash-partitioned
    * aggregations/joins — nothing is collected to the driver, and each
    * iteration's centroid table (k×64 rows) broadcasts in the reassign
    * join. Exact integer math throughout. */
  def kmeansIter2(s: SparkSession, dir: String): DataFrame = {
    // lazily cached: the exploded point table feeds both assignment
    // passes and the recenter (3 full references — uncached, each would
    // re-scan and re-explode the embeddings)
    val pts = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long"))))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("col").as("x"))
      .trackedPersist()
    val c0 = pts.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("dim"), col("x").as("cx"))

    // argmin via struct-MIN over (dist, cid) — one hash aggregation,
    // identical tie-break to the row_number window it replaces (and to
    // the oracle's MIN({'d','c'})) with no per-vid sort of the n×k frame
    def assign(centers: DataFrame): DataFrame =
      pts.join(broadcast(centers), "dim")
        .groupBy(col("vec_id"), col("cid"))
        .agg(sum((col("x") - col("cx")) * (col("x") - col("cx"))).as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m").getField("cid").as("cid"))
    def recenter(asg: DataFrame): DataFrame =
      pts.join(asg, "vec_id")
        .groupBy(col("cid"), col("dim"))
        .agg(expr("SUM(x) DIV COUNT(*)").as("cx"))

    val a2 = assign(recenter(assign(c0)))
    a2.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_points"), sum(col("vec_id")).as("sum_vec_id"))
  }

  // list-comprehension distances + MATERIALIZED CTEs (the q_semdedup r12
  // pattern): the per-dimension unnest join builds n×64×k intermediate
  // rows and ground unboundedly at the 100× replica volume; whole-vector
  // list_sum is work ∝ n×k. The unnested pts survives ONLY for the Lloyd
  // per-dim mean (work ∝ n×64, no k factor). OracleScaleSpec pins the
  // formulation.
  private val kmeansIter2Sql =
    """WITH iv AS MATERIALIZED (
      |  SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding] AS v
      |  FROM embeddings),
      |c0 AS MATERIALIZED (
      |  SELECT vec_id AS cid, v AS cv FROM iv WHERE vec_id < 10),
      |a1 AS MATERIALIZED (
      |  SELECT vec_id, (MIN({'d': dist, 'c': cid})).c AS cid
      |  FROM (
      |    SELECT p.vec_id, c.cid,
      |      list_sum([(p.v[i]-c.cv[i])*(p.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
      |    FROM iv p CROSS JOIN c0 c) t
      |  GROUP BY vec_id),
      |pts AS MATERIALIZED (
      |  SELECT vec_id, t.dim, v[t.dim] AS x FROM iv CROSS JOIN range(1, 65) t(dim)),
      |c1 AS MATERIALIZED (
      |  SELECT cid, [CAST(sx[d] // cnt AS BIGINT) for d in range(1, 65)] AS cv
      |  FROM (
      |    SELECT cid, list(sx ORDER BY dim) AS sx, MAX(cnt) AS cnt
      |    FROM (
      |      SELECT a1.cid, pts.dim, SUM(pts.x) AS sx, COUNT(*) AS cnt
      |      FROM pts JOIN a1 USING (vec_id) GROUP BY a1.cid, pts.dim) g
      |    GROUP BY cid) z),
      |a2 AS (
      |  SELECT vec_id, (MIN({'d': dist, 'c': cid})).c AS cid
      |  FROM (
      |    SELECT p.vec_id, c.cid,
      |      list_sum([(p.v[i]-c.cv[i])*(p.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
      |    FROM iv p CROSS JOIN c1 c) t
      |  GROUP BY vec_id)
      |SELECT cid, COUNT(*) AS n_points, CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id FROM a2 GROUP BY cid""".stripMargin

  val defs: Seq[GQuery] = Seq(
    GQuery("q_pagerank", pagerank, Some(pagerankSql), headline = true),
    // the double path's registry face is the conserved-mass census
    // (oracle-exact — see pagerankDoubleMass scaladoc); it forces the
    // same full double-precision iteration, so the headline timing is
    // comparable with prior rounds. The per-node double ranks stay a
    // library surface, rank-order-parity-checked in PageRankSpec.
    GQuery("q_pagerank_double", (s, d) => pagerankDoubleMass(s, d),
      Some(pagerankDoubleMassSql), headline = true),
    GQuery("q_hits", hits, Some(hitsSql)),
    GQuery("q_kmeans_iter2", kmeansIter2, Some(kmeansIter2Sql)))
}
