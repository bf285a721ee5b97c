package graft

/** Results must not depend on what ran earlier in the session. An
  * `observe()` probe (the fixpoint loops' convergence signature) creates
  * the session's unserializable ObservationManager; a DeferredIngest
  * query run after it must still ship its tasks. */
class SessionOrderSpec extends SparkSpec {

  test("DeferredIngest queries run after an observe()-probed loop") {
    def rows(name: String): Long =
      try SparkEntry.queries(name)(spark, sfDir).collect().length
      finally graft.core.Caches.release()
    assert(rows("q_dup_clusters_star") > 0)
    for (name <- Seq("q_text_lines", "q_csv_roundtrip"))
      assert(rows(name) > 0, name)
  }
}
