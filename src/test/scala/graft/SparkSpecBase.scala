package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  /** The production session ([[GraftSession.builder]]: graft's functions,
    * rules and strategy through [[graft.plans.GraftExtensions]], the
    * nanos read, the UTC zone) plus the test-only keys.
    */
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      // ContextCleaner's periodic GC defaults to 30 MINUTES — longer
      // than the suite — so dead pinned blocks and shuffle files from
      // finished suites were never reclaimed and taxed every later
      // suite (the same leak the bench harness fixed in r18)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpecBase extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Suite-boundary isolation, the bench harness's r18 device applied
    * to the shared test session: drop pinned blocks the finished suite
    * leaked and DEREGISTER its Dataset-level persists from the
    * CacheManager — every registered cache is a plan fragment every
    * later action's planning sameResult-compares against, so 91 suites
    * leaking a few caches each make late-suite planning quadratic.
    * Nothing crosses suites by cache (stores memoize PATHS, not
    * frames), so this only stops suite N's garbage taxing suite N+1.
    */
  override def afterAll(): Unit = {
    try releasePins(blocking = false)
    catch { case _: Throwable => () }
    super.afterAll()
  }

  private def releasePins(blocking: Boolean): Unit = {
    org.apache.spark.sql.GraftInternal.releaseAll(spark, blocking); ()
  }

  /** Run `op` once (warm-up), drop every pin the session holds, run it
    * again, and assert the second run left no persisted RDD and no
    * CacheManager entry behind. The session tracks persisted RDDs by
    * weak reference, so a pin the op drops without releasing would
    * vanish from the count at the next GC: a watcher holds every RDD
    * persisted during the run until the count is taken.
    * (`numCachedEntries` is package-private in Scala but public in
    * bytecode, so it is read reflectively.)
    */
  protected def assertLeavesNoPins(op: => Any): Unit = {
    def pins: (Set[Int], Int) = {
      val cm = spark.sharedState.cacheManager
      (spark.sparkContext.getPersistentRDDs.keySet.toSet,
        cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int])
    }
    op
    releasePins(blocking = true)
    val before = pins
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val watcher = new Thread(() =>
      while (running.get) {
        spark.sparkContext.getPersistentRDDs.values.foreach(held.add)
        Thread.sleep(5)
      })
    watcher.setDaemon(true)
    watcher.start()
    try op finally { running.set(false); watcher.join() }
    val after = pins
    held.clear()
    assert(after == before,
      s"left ${(after._1 -- before._1).size} persisted RDDs and " +
        s"${after._2 - before._2} cache entries behind")
  }
}
