package graft.sources

/** One home for the md5-keyed temp-dir naming every persisted store's
  * `defaultPath` shares: `graft_<name>_<key12><suffix>` under the JVM
  * temp dir, where the key is the first 12 hex chars of the dataset
  * dir's MD5 — deterministic per (store, dataset, lifecycle), so
  * memoized build-once lifecycles land on the same path across calls
  * while distinct datasets and stores can never collide. Previously
  * copy-pasted per store; a drift between copies would silently key
  * two stores' lifecycles differently.
  */
object StorePaths {

  def datasetKey(datasetDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(datasetDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .take(12)

  def keyedTmp(name: String, datasetDir: String, suffix: String = ""): String =
    s"${sys.props("java.io.tmpdir")}/graft_${name}_${datasetKey(datasetDir)}$suffix"

  /** Recursively remove a store path — the first-caller prologue of
    * every memoized build-then-mutate lifecycle (`ensureDeleted` and
    * kin): the keyed temp paths are deterministic ACROSS processes, so
    * a dir left by an earlier JVM (bench litter, or ledger layers from
    * before a schema change) would otherwise leak into a lifecycle
    * that believes it starts from nothing — measured in r17 as stale
    * seq-less tombstone ledgers failing every delete-family gate
    * entry. The build that follows rewrites every layer it owns;
    * this makes the ownership actually total.
    */
  def wipe(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    SwapRecovery.fsOf(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }
}
