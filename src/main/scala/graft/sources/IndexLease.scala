package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Single-writer lease for index-store MUTATIONS (append / delete /
  * compact) — the mutual-exclusion protocol that closes the racing
  * append-vs-compact window all three stores previously documented
  * away: compact snapshots the live layer, rewrites it, and swaps the
  * rewrite into place, so an append that lands between the snapshot
  * and the swap writes into the doomed pre-swap directory and is
  * silently dropped by the cleanup. With every mutator running under
  * [[withLease]], an append either completes before compact snapshots
  * (its rows are in the rewrite) or starts after the swap finishes
  * (its rows land in the promoted layer) — no lost update.
  *
  * Mechanics: an atomically-created `_lease` marker file under the
  * store path (underscore-prefixed, so table readers treat it as
  * hidden) carrying the holder's diagnostic tag and a unique holder
  * id. Acquisition spins with a bounded timeout; release deletes the
  * marker in a `finally`. On `file:` paths the create goes through
  * `java.nio` `createFile` (true O_EXCL atomicity — Hadoop's local FS
  * check-then-create has a race window); on HDFS `create(overwrite =
  * false)` is atomic at the NameNode. Object stores WITHOUT atomic
  * create-if-absent still need a table format's transaction log — the
  * production caveat lives here now, not inside each store's swap.
  *
  * Liveness — a crashed holder is DETECTED and taken over, not paged
  * on: while the lease is held a daemon heartbeat refreshes the
  * marker's mtime every `graft.lease.heartbeatMs`; a waiter that finds
  * the heartbeat older than `graft.lease.staleMs` declares the holder
  * dead, atomically renames the stale marker to a private tombstone
  * (so exactly ONE contender wins the takeover race) and immediately
  * re-creates the marker as its own — and EVERY acquisition (takeover
  * or not) then runs [[SwapRecovery.recoverAll]] under the lease
  * before its body, so whatever a dead holder stranded mid-swap is
  * repaired inside mutual exclusion (a healthy layout costs one
  * listStatus), even by a writer that slipped into the takeover's
  * rename→create gap. Reaching the acquisition timeout therefore
  * means the holder is (or was until very recently) LIVE — the error
  * says so instead of prescribing 3 a.m. marker surgery.
  *
  * Fencing — a paused-not-dead holder must not be allowed to report a
  * successful mutation after it was deposed: each acquisition bumps a
  * monotone generation token (`_lease_gen`), and [[withLease]] checks
  * marker ownership + generation AFTER the body completes, throwing
  * `lease lost` instead of returning if a takeover happened while the
  * holder was paused (the takeover's recoverAll has already repaired
  * the layout). The fence DETECTS the deposed writer's mutation; it
  * does not prevent it — the check runs after the body, so a flat
  * `SaveMode.Append` layer may already be durably committed when
  * `lease lost` throws. Retry guidance is therefore conditional:
  * batch-keyed Overwrite folds are idempotent and safe to retry; a
  * flat append must be verified against the layer first (a blind
  * re-apply double-folds an abelian store). The heartbeat makes
  * deposition of a live holder effectively impossible — only a pause
  * longer than the staleness threshold (sized >> GC pauses) can
  * trigger it.
  *
  * Reads never take the lease — serving stays lock-free because every
  * intermediate compact state keeps a complete copy on disk (the
  * stage-then-swap of [[SwapRecovery]], whose Scaladoc tables the
  * layouts and their repair).
  */
object IndexLease {

  private def isFileScheme(fs: org.apache.hadoop.fs.FileSystem): Boolean =
    fs.getScheme == "file"

  private def tryAcquire(fs: org.apache.hadoop.fs.FileSystem,
      lease: Path, content: String): Boolean =
    if (isFileScheme(fs)) {
      try {
        val p = java.nio.file.Paths.get(lease.toUri.getPath)
        java.nio.file.Files.write(p, content.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      // contention and FAULT must not be conflated: only the failure
      // classes that MEAN "someone else holds the marker" may return
      // false-and-spin. Any other IOException (safe-mode, connectivity,
      // permissions) is rethrown immediately — spinning on it would
      // burn the full timeout and then misdiagnose a transient fault
      // as a crashed holder.
      val created =
        try Some(fs.create(lease, false))
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => None
          case re: org.apache.hadoop.ipc.RemoteException
              if re.getClassName != null &&
                (re.getClassName.endsWith("AlreadyBeingCreatedException") ||
                  re.getClassName.endsWith("FileAlreadyExistsException")) =>
            None
        }
      created match {
        case None => false
        case Some(out) =>
          // a failure writing/closing the tag AFTER our create succeeded
          // means WE hold a marker we are about to disown — delete it
          // before reporting failure, or the caller spins against its
          // own orphaned lease until timeout
          try {
            try out.write(content.getBytes("UTF-8")) finally out.close()
            true
          } catch {
            case e: java.io.IOException =>
              try fs.delete(lease, false)
              catch { case _: java.io.IOException => () }
              throw e
          }
      }
    }

  /** Default acquisition timeout; overridable per-JVM via the
    * `graft.lease.timeoutMs` system property — compact() holds the
    * lease across a full layer rewrite, so deployments with large
    * indexes should size this to their compaction time (the heartbeat
    * keeps a live compaction from ever reading as stale, however long
    * it runs).
    */
  private def defaultTimeoutMs: Long =
    sys.props.get("graft.lease.timeoutMs").map(_.toLong).getOrElse(120000L)

  /** Heartbeat age beyond which a holder is declared dead and taken
    * over. Must be sized well above worst-case GC/scheduling pauses —
    * a live holder heartbeats every [[heartbeatMs]], so only a pause
    * longer than this threshold can depose one (and the generation
    * fence turns that into a loud `lease lost` on the deposed side,
    * never a silent double-writer).
    */
  private def staleMs: Long =
    sys.props.get("graft.lease.staleMs").map(_.toLong).getOrElse(60000L)

  /** Interval between marker-mtime refreshes while the lease is held. */
  private def heartbeatMs: Long =
    sys.props.get("graft.lease.heartbeatMs").map(_.toLong)
      .getOrElse(math.max(1000L, staleMs / 6))

  private def touch(fs: org.apache.hadoop.fs.FileSystem, lease: Path): Unit =
    if (isFileScheme(fs))
      // java.nio keeps millisecond precision where File.setLastModified
      // may truncate — the staleness clock needs the real resolution
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(lease.toUri.getPath),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    else fs.setTimes(lease, System.currentTimeMillis(), -1L)

  private def readAll(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** The holder id recorded in the marker, if the marker is readable. */
  private def markerHolder(fs: org.apache.hadoop.fs.FileSystem,
      lease: Path): Option[String] =
    try readAll(fs, lease).linesIterator
      .find(_.startsWith("holder=")).map(_.stripPrefix("holder="))
    catch { case _: java.io.IOException => None }

  /** [[markerHolder]] for the POST-BODY fence check, where a transient
    * read fault must not masquerade as a takeover (the lenient form
    * maps ANY IOException to None, which the fence would read as
    * "marker lost" and throw a spurious `lease lost`). A genuinely
    * MISSING marker reads as None (that IS a lost lease); any other
    * IOException retries briefly and then surfaces as the distinct
    * `fence unverifiable` error, which does not advise blind retry.
    */
  private def markerHolderChecked(fs: org.apache.hadoop.fs.FileSystem,
      lease: Path, who: String): Option[String] = {
    var attempt = 0
    while (true) {
      try return readAll(fs, lease).linesIterator
        .find(_.startsWith("holder=")).map(_.stripPrefix("holder="))
      catch {
        case _: java.io.FileNotFoundException => return None
        case e: java.io.IOException =>
          attempt += 1
          if (attempt >= 3)
            throw new IllegalStateException(
              s"index lease fence for $lease unverifiable by $who: the " +
                "lease marker could not be read after the mutation " +
                s"completed (${e.getMessage}). The mutation itself most " +
                "likely committed — do NOT blindly retry a flat append; " +
                "verify the store contents (or the batch layer) first",
              e)
          Thread.sleep(50)
      }
    }
    None // unreachable
  }

  private def readGen(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path): Long =
    try readAll(fs, gen).trim.toLong
    catch {
      // absent (first acquisition) or torn (crash mid-write) both read
      // as 0 — the next write restores monotonicity from there, and a
      // paused holder carrying a HIGHER gen still fails its fence check
      case _: java.io.FileNotFoundException => 0L
      case _: NumberFormatException => 0L
    }

  /** [[readGen]] for the ACQUISITION-side bump, where the lease is
    * already held: a persistently unreadable gen file (crash mid-write
    * leaving e.g. an HDFS block under recovery — a non-FNF IOException)
    * must SELF-HEAL, not brick the store for every future writer.
    * Transient faults retry; a persistent one falls back to 0 and the
    * immediate `writeGen` overwrite repairs the file. The fence stays
    * safe under a gen reset because it compares by EQUALITY — a
    * deposed holder's stale gen never equals the healed value, and its
    * marker-ownership check fails first anyway.
    */
  private def readGenForBump(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path): Long = {
    var attempt = 0
    while (attempt < 3) {
      try return readGen(fs, gen)
      catch {
        case _: java.io.IOException =>
          attempt += 1
          if (attempt < 3) Thread.sleep(50)
      }
    }
    0L
  }

  /** [[readGen]] for the POST-BODY fence check, where a transient read
    * fault must not masquerade as a takeover: only a MISSING gen file
    * legitimately reads 0; any other IOException is retried briefly and
    * then surfaces as a distinct `fence unverifiable` error — which
    * deliberately does NOT advise retrying the mutation, because the
    * mutation very likely committed and a blind re-apply of a flat
    * append double-folds an abelian store.
    */
  private def readGenChecked(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path, lease: Path, who: String): Long = {
    var attempt = 0
    while (true) {
      try return readGen(fs, gen)
      catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt >= 3)
            throw new IllegalStateException(
              s"index lease fence for $lease unverifiable by $who: the " +
                "generation file could not be read after the mutation " +
                s"completed (${e.getMessage}). The mutation itself most " +
                "likely committed — do NOT blindly retry a flat append; " +
                "verify the store contents (or the batch layer) first",
              e)
          Thread.sleep(50)
      }
    }
    0L // unreachable
  }

  private def writeGen(fs: org.apache.hadoop.fs.FileSystem, gen: Path,
      value: Long): Unit = {
    val out = fs.create(gen, true)
    try out.write(value.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Run `body` holding the store's single-writer lease. `who` is a
    * diagnostic tag written into the marker (which operation, for the
    * timeout message of whoever waits on the holder).
    */
  def withLease[T](spark: SparkSession, path: String, who: String,
      timeoutMs: Long = -1L)(body: => T): T = {
    val effectiveTimeoutMs =
      if (timeoutMs >= 0L) timeoutMs else defaultTimeoutMs
    val effectiveStaleMs = staleMs
    val fs = SwapRecovery.fsOf(spark, path)
    fs.mkdirs(new Path(path))
    val lease = new Path(s"$path/_lease")
    val genPath = new Path(s"$path/_lease_gen")
    val holderId = java.util.UUID.randomUUID().toString
    val content = s"$who\nholder=$holderId"
    val deadline = System.currentTimeMillis() + effectiveTimeoutMs
    var held = false
    while (!held) {
      held = tryAcquire(fs, lease, content)
      if (!held) {
        // dead-holder detection: heartbeat older than the staleness
        // threshold ⇒ take over. The rename is the takeover election —
        // atomic, so exactly one contender wins it — and the winner
        // RE-CREATES the marker as its own IMMEDIATELY, so the
        // stranded-layout repair below runs UNDER the lease like any
        // other acquisition, never in an unleased window a concurrent
        // writer could mutate into mid-repair.
        val heartbeatAge =
          try Some(System.currentTimeMillis() -
            fs.getFileStatus(lease).getModificationTime)
          catch { case _: java.io.FileNotFoundException => None }
        heartbeatAge match {
          case Some(age) if age > effectiveStaleMs =>
            val tomb = new Path(s"$path/_lease_stale_$holderId")
            if (fs.rename(lease, tomb)) {
              // held = false here means a writer slipped in between
              // the rename and our create: IT now owns the lease and
              // repairs at its own entry (every acquisition repairs) —
              // back to waiting.
              held = tryAcquire(fs, lease, content)
              fs.delete(tomb, false)
              ()
            }
          case _ => ()
        }
        if (!held) {
          // the deadline governs EVERY waiting path — including a
          // stale marker whose takeover election keeps failing (e.g. a
          // filesystem whose rename reports false), which previously
          // busy-spun past the timeout forever
          if (System.currentTimeMillis() > deadline) {
            val holderState = heartbeatAge match {
              case Some(age) if age > effectiveStaleMs =>
                s"The marker IS stale (heartbeat ${age}ms old) but the " +
                  "takeover election keeps failing — another contender " +
                  "or writer is active, or this filesystem's rename " +
                  "cannot win it"
              case _ =>
                s"The holder appears LIVE (marker heartbeat " +
                  s"${heartbeatAge.getOrElse(0L)}ms old, staleness " +
                  s"threshold ${effectiveStaleMs}ms)"
            }
            throw new IllegalStateException(
              s"could not acquire index lease $lease (wanted by: $who) " +
                s"within ${effectiveTimeoutMs}ms. $holderState — a crashed " +
                "holder's marker goes stale and is taken over " +
                "automatically after SwapRecovery repair. Raise " +
                "-Dgraft.lease.timeoutMs to outwait a long live " +
                "compaction, or lower -Dgraft.lease.staleMs if the " +
                "holder cannot be heartbeating")
          }
          Thread.sleep(25)
        }
      }
    }
    // held. Start the heartbeat FIRST: the entry repair below can be
    // slow (a stranded <layer>_old recursive delete on an object
    // store), and without a beating marker a repair longer than
    // staleMs would read as a dead holder — a contender would depose
    // the REPAIRING holder and two repairers would race on one layout.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = new Thread(() => {
      while (!stop.get()) {
        try {
          Thread.sleep(heartbeatMs)
          if (!stop.get() && markerHolder(fs, lease).contains(holderId))
            touch(fs, lease)
        } catch {
          case _: InterruptedException => stop.set(true)
          case _: java.io.IOException => () // transient; next beat retries
        }
      }
    }, s"graft-lease-heartbeat-$holderId")
    beat.setDaemon(true)
    beat.start()
    try {
      // repair anything a dead holder stranded — under the lease (and
      // under the heartbeat), so no writer can interleave with the
      // repair. Running this on every acquisition (one listStatus when
      // the layout is healthy) is what closes the takeover's
      // rename→create gap: whichever writer wins the lease inside that
      // gap repairs before mutating.
      SwapRecovery.recoverAll(spark, path)
      // Bump the generation fence (self-healing read: the overwrite
      // below repairs an unreadable gen file).
      val myGen = readGenForBump(fs, genPath) + 1
      writeGen(fs, genPath, myGen)
      val result = body
      // the fence: a holder paused past the staleness threshold may
      // have been deposed and its store repaired — its late success
      // must be REJECTED loudly, not returned as if committed. NOTE
      // the fence fires AFTER the body, so the body's terminal write
      // may already be durably committed when this throws: retry
      // guidance is therefore CONDITIONAL on the mutation's shape.
      if (!markerHolderChecked(fs, lease, who).contains(holderId) ||
          readGenChecked(fs, genPath, lease, who) != myGen)
        throw new IllegalStateException(
          s"index lease $lease lost by $who (holder $holderId, " +
            s"generation $myGen): a contender declared this holder dead " +
            "and took over while it was paused. The mutation may be " +
            "torn OR may have fully committed before the takeover. " +
            "Retry ONLY if it is idempotent (a batch-keyed Overwrite " +
            "fold re-lands its own layer); a FLAT append may already " +
            "be applied — verify the layer contents before re-applying, " +
            "or a blind retry double-folds an abelian store")
      result
    } finally {
      stop.set(true)
      beat.interrupt()
      // delete only OUR marker — after a takeover it belongs to the
      // new holder (or a newer generation entirely)
      if (markerHolder(fs, lease).contains(holderId)) {
        fs.delete(lease, false)
        ()
      }
    }
  }
}
