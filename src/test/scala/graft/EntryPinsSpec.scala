package graft

/** Every entry that pins, cuts or persists leaves nothing behind when
  * it runs, and is consumed, inside the per-entry owner Bench and
  * Verify run it under ([[SparkEntry.runOwned]]).
  */
class EntryPinsSpec extends SparkSpecBase {

  private val pinning = Seq(
    "q_pagerank", "emb_kmeans", "text_bpe_train", "emb_pca", "emb_pca_topk",
    "dedup_clusters", "dedup_clusters_dist", "dedup_clusters_incr",
    "dedup_clusters_decr", "dedup_delete_reappend")

  pinning.foreach { name =>
    test(s"$name leaves no persisted RDD and no cache entry") {
      val entry = SparkEntry.queries(name)
      assertLeavesNoPins(SparkEntry.runOwned(spark, sfDir, entry)(_.collect()))
    }
  }
}
