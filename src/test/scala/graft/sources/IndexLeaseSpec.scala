package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The single-writer lease that makes index mutation concurrency-safe:
  * a DETERMINISTIC interleaving (latch-sequenced, no sleeps-and-hope)
  * proving an append cannot run inside compact's snapshot-rewrite-swap
  * window — the lost-update race all three stores' compact() docs
  * previously disclaimed — plus the crashed-holder timeout story.
  */
class IndexLeaseSpec extends SparkSpecBase {

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val base = docs.filter(col("doc_id") % 10 =!= 0)
  private lazy val delta = docs.filter(col("doc_id") % 10 === 0)

  private def freshIndex(tag: String): String = {
    val p = java.nio.file.Files
      .createTempDirectory(s"graft_lease_$tag").toString
    MinhashIndexStore.build(base, p)
    p
  }

  test("append blocks while another mutator holds the lease, then lands intact") {
    val p = freshIndex("mx")
    val baseRows = spark.read.parquet(s"$p/bands").count()
    val holderIn = new java.util.concurrent.CountDownLatch(1)
    val releaseHolder = new java.util.concurrent.CountDownLatch(1)
    val appendDone = new java.util.concurrent.CountDownLatch(1)
    // T1 simulates compact mid-swap: takes the lease and parks inside it
    val holder = new Thread(() =>
      IndexLease.withLease(spark, p, "compact-sim") {
        holderIn.countDown()
        releaseHolder.await()
      })
    holder.start()
    assert(holderIn.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // T2 tries the real append — it must WAIT on the lease
    val appender = new Thread(() => {
      MinhashIndexStore.append(delta, p)
      appendDone.countDown()
    })
    appender.start()
    assert(!appendDone.await(1, java.util.concurrent.TimeUnit.SECONDS),
      "append must not proceed while the lease is held")
    assert(spark.read.parquet(s"$p/bands").count() == baseRows,
      "no appended row may land inside the holder's window")
    releaseHolder.countDown()
    assert(appendDone.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "append must complete once the lease is released")
    holder.join(); appender.join()
    // nothing lost: the landed index equals a fresh build over the union
    val expected = MinhashIndexStore.bandRows(base.unionByName(delta)).count()
    assert(spark.read.parquet(s"$p/bands").count() == expected)
  }

  test("delete-then-compact-then-append under the lease loses no rows") {
    // the sequential protocol every mutator now follows: after a full
    // delete + compact cycle, an append lands on the compacted layer
    // and the serve equals a fresh build over (base - removed + delta)
    val p = freshIndex("seq")
    val removed = base.filter(col("doc_id") % 10 === 5).select(col("doc_id"))
    MinhashIndexStore.delete(removed, p)
    MinhashIndexStore.compact(spark, p)
    MinhashIndexStore.append(delta, p)
    val survivors = base.filter(col("doc_id") % 10 =!= 5).unionByName(delta)
    assert(spark.read.parquet(s"$p/bands").count() ==
      MinhashIndexStore.bandRows(survivors).count())
    assert(!new java.io.File(s"$p/_lease").exists(),
      "the lease must be released after every mutation")
  }

  test("a recently-crashed holder's fresh marker times out (not yet provably dead)") {
    val p = freshIndex("crash")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$p/_lease"),
      "dead-writer\nholder=ghost".getBytes("UTF-8"))
    // marker mtime is NOW — within the staleness threshold the waiter
    // cannot distinguish a crash from a live holder, so it must wait
    val err = intercept[IllegalStateException] {
      IndexLease.withLease(spark, p, "append", timeoutMs = 300L) { () }
    }
    assert(err.getMessage.contains("taken over"),
      s"timeout message must explain the takeover path: ${err.getMessage}")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$p/_lease"))
    MinhashIndexStore.append(delta, p)
    assert(spark.read.parquet(s"$p/bands").count() ==
      MinhashIndexStore.bandRows(base.unionByName(delta)).count())
  }

  test("a DEAD holder (stale heartbeat) is taken over after SwapRecovery repair") {
    val p = freshIndex("dead")
    // the dead holder stranded a mid-swap layout: bands renamed aside,
    // fully-written staging not yet promoted (SwapRecovery state 2)
    val fs = SwapRecovery.fsOf(spark, p)
    val bands = new org.apache.hadoop.fs.Path(s"$p/bands")
    spark.read.parquet(s"$p/bands").write
      .partitionBy("band").parquet(s"$p/bands_compacted")
    SwapRecovery.renameOrThrow(fs, bands,
      new org.apache.hadoop.fs.Path(s"$p/bands_old"))
    // ...and its lease marker, heartbeat long gone
    val marker = java.nio.file.Paths.get(s"$p/_lease")
    java.nio.file.Files.write(marker,
      "dead-compact\nholder=ghost".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - 60000L))
    sys.props("graft.lease.staleMs") = "400"
    try {
      // NO operator intervention: the waiter detects the stale
      // heartbeat, repairs the stranded swap, and proceeds
      MinhashIndexStore.append(delta, p)
    } finally { sys.props.remove("graft.lease.staleMs"); () }
    assert(!new java.io.File(s"$p/_lease").exists(),
      "the takeover's lease must be released like any other")
    assert(!new java.io.File(s"$p/bands_old").exists() &&
      !new java.io.File(s"$p/bands_compacted").exists(),
      "the stranded swap must be repaired before the takeover mutates")
    assert(spark.read.parquet(s"$p/bands").count() ==
      MinhashIndexStore.bandRows(base.unionByName(delta)).count())
  }

  test("a LIVE slow holder (heartbeating) is NOT deposed — takeover refused") {
    val p = freshIndex("slow")
    val marker = java.nio.file.Paths.get(s"$p/_lease")
    java.nio.file.Files.write(marker,
      "slow-compact\nholder=tortoise".getBytes("UTF-8"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = new Thread(() => {
      while (!stop.get()) {
        java.nio.file.Files.setLastModifiedTime(marker,
          java.nio.file.attribute.FileTime
            .fromMillis(System.currentTimeMillis()))
        Thread.sleep(50)
      }
    })
    beat.setDaemon(true); beat.start()
    sys.props("graft.lease.staleMs") = "400"
    try {
      val err = intercept[IllegalStateException] {
        // staleness window elapses MANY times within the timeout, but
        // the heartbeat keeps refreshing — the holder must survive
        IndexLease.withLease(spark, p, "append", timeoutMs = 1500L) { () }
      }
      assert(err.getMessage.contains("LIVE"),
        s"refusal must say the holder looks live: ${err.getMessage}")
      assert(java.nio.file.Files.exists(marker),
        "the live holder's marker must not be stolen")
    } finally {
      sys.props.remove("graft.lease.staleMs")
      stop.set(true); beat.join()
      java.nio.file.Files.deleteIfExists(marker)
      ()
    }
  }

  test("generation fence: a paused-past-stale holder's late success is REJECTED") {
    val p = freshIndex("fence")
    // holder A cannot heartbeat (interval pushed past the test) and
    // will pause in its body longer than the staleness threshold
    sys.props("graft.lease.staleMs") = "300"
    sys.props("graft.lease.heartbeatMs") = "3600000"
    val aIn = new java.util.concurrent.CountDownLatch(1)
    val aGo = new java.util.concurrent.CountDownLatch(1)
    @volatile var aErr: Throwable = null
    val a = new Thread(() =>
      try IndexLease.withLease(spark, p, "paused-writer") {
        aIn.countDown()
        aGo.await() // the "GC pause"
      } catch { case t: Throwable => aErr = t })
    try {
      a.start()
      assert(aIn.await(30, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(500) // let A's heartbeat go stale
      // contender B declares A dead, takes over, completes, releases
      IndexLease.withLease(spark, p, "contender", timeoutMs = 10000L) { () }
      // A wakes from its pause: its completion must throw, not return
      aGo.countDown()
      a.join(30000)
      assert(aErr != null && aErr.getMessage.contains("lease lost"),
        s"deposed holder must fail loudly, got: $aErr")
    } finally {
      sys.props.remove("graft.lease.staleMs")
      sys.props.remove("graft.lease.heartbeatMs")
      aGo.countDown()
      ()
    }
  }

  test("the default timeout honors -Dgraft.lease.timeoutMs") {
    val p = freshIndex("knob")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$p/_lease"),
      "dead-writer".getBytes("UTF-8"))
    sys.props("graft.lease.timeoutMs") = "200"
    try {
      val t0 = System.nanoTime()
      intercept[IllegalStateException] {
        // NO explicit timeout — the sys-prop default must govern
        IndexLease.withLease(spark, p, "append") { () }
      }
      val ms = (System.nanoTime() - t0) / 1000000L
      // well under the built-in 120s default, a little over the knob
      assert(ms < 10000L, s"sys-prop timeout not honored: waited ${ms}ms")
    } finally {
      sys.props.remove("graft.lease.timeoutMs")
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$p/_lease"))
      ()
    }
  }

  test("ANY acquisition repairs stranded debris under the lease, before its body") {
    // the repair-under-mutual-exclusion invariant: whoever wins the
    // lease over a stranded layout fixes it before mutating — this is
    // what makes the takeover's rename→create gap harmless (a writer
    // slipping into that gap inherits exactly this on-disk view: swap
    // debris, no marker)
    val p = freshIndex("entryrepair")
    val fs = SwapRecovery.fsOf(spark, p)
    spark.read.parquet(s"$p/bands").write
      .partitionBy("band").parquet(s"$p/bands_compacted")
    SwapRecovery.renameOrThrow(fs,
      new org.apache.hadoop.fs.Path(s"$p/bands"),
      new org.apache.hadoop.fs.Path(s"$p/bands_old"))
    IndexLease.withLease(spark, p, "entry-repair-probe") {
      assert(!new java.io.File(s"$p/bands_old").exists() &&
        !new java.io.File(s"$p/bands_compacted").exists() &&
        new java.io.File(s"$p/bands").exists(),
        "the stranded swap must already be repaired when the body runs")
    }
  }

  test("a torn generation file self-heals at acquisition instead of bricking the store") {
    // crash mid-writeGen leaves a gen file the fence arithmetic cannot
    // parse; the next acquisition must read it as 0, overwrite it, and
    // run its mutation — not throw on every future withLease
    val p = freshIndex("genheal")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$p/_lease_gen"),
      "garbage-not-a-number".getBytes("UTF-8"))
    MinhashIndexStore.append(delta, p) // must succeed (acquire → heal → fence)
    assert(spark.read.parquet(s"$p/bands").count() ==
      MinhashIndexStore.bandRows(base.unionByName(delta)).count())
    val healed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$p/_lease_gen")), "UTF-8").trim
    assert(healed == "1", s"gen file must be rewritten numeric, got: $healed")
    // and the fence keeps working from the healed value
    MinhashIndexStore.append(docs.filter(col("doc_id") % 20 === 10), p)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$p/_lease_gen")), "UTF-8").trim == "2")
  }
}
