package graft.sources

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `refusing:` scheme, except that it
  * reports a rename OF A STAGED DIR (`<x>.staging`, `<layer>_compacted`)
  * as failed with a Boolean `false`, the way HDFS does — so a swap's
  * promote fails while its other renames land. The local FS never
  * returns that `false` (it falls back to a copy), so this is how a spec
  * reaches the refused-promote branch of [[SwapRecovery]].
  */
class RenameRefusingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refusing:///")
  override def getScheme: String = "refusing"
  override def rename(src: Path, dst: Path): Boolean = {
    val n = src.getName
    !(n.endsWith(".staging") || n.endsWith("_compacted")) &&
      super.rename(src, dst)
  }
}

object RenameRefusingFs {

  /** `localPath` under the refusing scheme, registered on the session. */
  def path(spark: SparkSession, localPath: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.refusing.impl", classOf[RenameRefusingFs].getName)
    s"refusing://$localPath"
  }
}
