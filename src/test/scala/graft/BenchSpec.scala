package graft

/** [[Bench.timeEntries]] isolates each entry from the next: whatever an
  * entry leaves persisted is released before the next entry starts, not
  * after the whole suite.
  */
class BenchSpec extends SparkSpecBase {

  test("an entry starts with no persisted RDD an earlier entry leaked") {
    org.apache.spark.sql.GraftInternal.releaseAll(spark, blocking = true)
    val sc = spark.sparkContext
    // held here, so the leak cannot vanish from the weak-valued
    // registry by a GC between the two entries
    val leaked = scala.collection.mutable.Buffer.empty[org.apache.spark.rdd.RDD[Int]]
    var persistedAtStart = -1
    val entries = scala.collection.immutable.ListMap[String, () => Unit](
      "leaks" -> (() => { leaked += sc.parallelize(1 to 10).persist(); () }),
      "records" -> (() => { persistedAtStart = sc.getPersistentRDDs.size; () }))
    val times = Bench.timeEntries(spark, entries, reps = 1)(_())
    assert(leaked.size == 1)
    assert(persistedAtStart == 0,
      s"the second entry started with $persistedAtStart persisted RDDs")
    assert(times.keySet == Set("leaks", "records") && times.values.forall(_.nonEmpty))
  }

  test("an entry whose every rep fails is timed as None") {
    val entries = Map[String, () => Unit]("fails" -> (() => sys.error("boom")))
    assert(Bench.timeEntries(spark, entries, reps = 2)(_()) == Map("fails" -> None))
  }
}
