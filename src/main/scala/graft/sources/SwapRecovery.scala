package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one stage-then-swap commit of graft's immutable directories:
  * the warehouse tables and fact date partitions [[Sinks]] lands, and
  * the store layers every persisted store compacts ([[StoreLayers]]).
  * A unit is three sibling directories: `live` (what readers see), the
  * fully written `staged` replacement, and `aside`, where [[replace]]
  * parks the previous copy. Each kind of unit passes only its own names:
  *
  * {{{
  * unit            staged                          aside
  * table           <path>.staging                  <path>.backup
  * fact partition  <path>.staging_parts/<col>=<v>  <path>.pbackup/<col>=<v>
  * store layer     <layer>_compacted               <layer>_old
  * }}}
  *
  * The sequence is: write `staged` → rename `live` to `aside` → rename
  * `staged` to `live` → delete `aside`. A crash between any two steps
  * leaves one of these layouts, which [[repair]] returns to a committed
  * state:
  *
  * {{{
  * live  aside  staged  repair
  * yes   -      -       "clean"
  * yes   -      yes     the swap never began: drop staged ("dropped_staging")
  * -     yes    yes     mid-swap: promote staged, drop aside ("promoted_staging")
  * yes   yes    -       promoted, not cleaned: drop aside ("dropped_old")
  * -     yes    -       restore aside as live ("restored_old")     [may be absent]
  * -     -      yes     never committed: drop staged ("dropped_staging") [may be absent]
  * -     -      -       "absent"                                    [may be absent]
  * }}}
  *
  * Staged is complete before the first rename, so a mid-swap unit rolls
  * forward. The bracketed rows hold only for a unit that may be absent
  * (a table or partition before its first load); a store layer always
  * exists, so for it they are refused like every other layout, and out
  * of band surgery is left to a person. On a tombstoned store a refusal
  * aborts the compact before the tombstone delete, so the mask keeps
  * serving.
  *
  * Who repairs: every [[Sinks]] writer repairs its table on entry
  * ([[Sinks.tableExists]]), the fact merge its partitions, and
  * [[IndexLease.withLease]] every stranded layer of a store
  * ([[recoverAll]]) on each acquisition, so no store mutation starts
  * from debris. Mutual exclusion between live writers is the lease's
  * job; this object only repairs what a dead one left behind.
  */
object SwapRecovery {

  /** Swap the complete `staged` copy in as `live`, parking the previous
    * copy at `aside` (its parent is created) until the promote landed.
    * Every rename is checked: a failed promote renames the aside back
    * and throws, so `live` keeps serving the previous copy.
    */
  def replace(fs: FileSystem, staged: Path, live: Path, aside: Path): Unit = {
    val had = fs.exists(live)
    if (had) {
      fs.mkdirs(aside.getParent)
      renameOrThrow(fs, live, aside)
    }
    try renameOrThrow(fs, staged, live)
    catch {
      case e: IllegalStateException if had =>
        renameOrThrow(fs, aside, live)
        throw e
    }
    if (had) fs.delete(aside, true)
  }

  /** Return one unit to a committed state (the table above) and say
    * what it did. `mayBeAbsent` is the unit kind's one difference: a
    * table or partition may not exist yet, a store layer must.
    */
  def repair(fs: FileSystem, live: Path, staged: Path, aside: Path,
      mayBeAbsent: Boolean): String =
    (fs.exists(live), fs.exists(aside), fs.exists(staged)) match {
      case (true, false, false) => "clean"
      case (true, false, true) => fs.delete(staged, true); "dropped_staging"
      case (false, true, true) =>
        renameOrThrow(fs, staged, live); fs.delete(aside, true)
        "promoted_staging"
      case (true, true, false) => fs.delete(aside, true); "dropped_old"
      case (false, true, false) if mayBeAbsent =>
        renameOrThrow(fs, aside, live); "restored_old"
      case (false, false, true) if mayBeAbsent =>
        fs.delete(staged, true); "dropped_staging"
      case (false, false, false) if mayBeAbsent => "absent"
      case (live_, aside_, staged_) =>
        throw new IllegalStateException(
          s"unrecoverable layout for $live: (live, aside, staged) = " +
            s"($live_, $aside_, $staged_) — not a state the swap can strand " +
            "for a unit that must exist; restore by hand (a tombstoned " +
            "store: after confirming its tombstone list still masks it)")
    }

  /** [[repair]] one store layer: `<layer>_compacted`, `<layer>_old`. */
  def recover(spark: SparkSession, path: String, layer: String): String =
    repair(fsOf(spark, path), new Path(s"$path/$layer"),
      new Path(s"$path/${layer}_compacted"), new Path(s"$path/${layer}_old"),
      mayBeAbsent = false)

  /** Repair EVERY stranded layer under a store path, discovering the
    * layer names from the `<layer>_old` / `<layer>_compacted` debris a
    * dead writer left behind — the store-agnostic entry point
    * [[IndexLease]] runs on each acquisition (the lease layer does not
    * know which store layout it guards). A healthy path has no debris
    * and this is one listing; returns the repaired layer → action map
    * for logs and the spec.
    */
  def recoverAll(spark: SparkSession, path: String): Map[String, String] = {
    val fs = fsOf(spark, path)
    val children =
      try fs.listStatus(new Path(path)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val layers = children.map(_.getPath.getName)
      .collect {
        case n if n.endsWith("_old") => n.stripSuffix("_old")
        case n if n.endsWith("_compacted") => n.stripSuffix("_compacted")
      }
      .filterNot(_.startsWith("_")) // lease machinery, not store layers
      .distinct
    layers.map(l => l -> recover(spark, path, l)).toMap
  }

  /** Rename that REFUSES to be ignored: `FileSystem.rename` reports
    * failure as a Boolean (FS-dependently, e.g. when the destination
    * already exists on a stranded layout), and a compact that falls
    * through a failed rename to its tombstone delete would leave the
    * stale uncompacted layer serving UNMASKED — resurrecting retracted
    * rows. Throwing aborts the swap before any destructive step.
    */
  private[sources] def renameOrThrow(fs: FileSystem, from: Path,
      to: Path): Unit =
    if (!fs.rename(from, to))
      throw new IllegalStateException(
        s"rename $from -> $to failed (stranded layout?); aborting the " +
          "swap before the tombstone delete — run recover() and retry")

  private[graft] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
