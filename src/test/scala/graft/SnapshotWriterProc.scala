package graft

/** Forked-JVM writer for SnapshotProcessSpec: one OS process = one
  * SparkSession appending `n` batches to a shared SnapshotStore table
  * through the claim CAS — the cross-PROCESS contention the in-JVM
  * SnapshotContentionSpec cannot produce (its writers share the intra-JVM
  * table lock, so only the threads' claim ORDER is exercised there).
  *
  * Args: tableDir writerId nAppends syncDir. The writer drops
  * `ready-<id>` in syncDir once its session is up, then spins until the
  * parent's `go` file appears — so both processes enter the append loop
  * together and every commit races a live foreign claimant. Exit 0 only
  * if every append sealed. */
object SnapshotWriterProc {
  def main(args: Array[String]): Unit = {
    val Array(tableDir, idS, nS, syncDir) = args
    val id = idS.toInt
    val n = nS.toInt
    val spark = GraftSession.build(2, Map("spark.app.name" -> s"snapwriter-$id"))
    import spark.implicits._
    try {
      val sync = java.nio.file.Paths.get(syncDir)
      java.nio.file.Files.createDirectories(sync)
      java.nio.file.Files.createFile(sync.resolve(s"ready-$id"))
      val go = sync.resolve("go")
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!java.nio.file.Files.exists(go)) {
        if (System.nanoTime() > deadline) sys.error("no go signal in 120s")
        Thread.sleep(20)
      }
      val w = graft.streaming.SnapshotStore.appendWriter(tableDir)
      for (i <- 0 until n) {
        // disjoint key and batch-id ranges per writer: the final content
        // is the deterministic union regardless of the commit interleave
        val base = id * 100000L + i * 3
        w(Seq(base, base + 1, base + 2).map(k => (k, k * 10))
          .toDF("k", "v").coalesce(1), id * 100000L + i)
      }
    } finally spark.stop()
  }
}
