package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}
import org.apache.spark.sql.DataFrame

/** Scaling-tax probe (env-gated tool, outside every query path): runs
  * selected declared entries under the EXACT bench session shape
  * (master local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus) with a
  * stage-metrics listener attached, and prints where each rep's wall
  * actually goes — stage wall vs summed task time vs GC vs scheduling
  * overhead, task counts, shuffle/input volume. Built to adjudicate
  * the r18 inverse-scaling finding (entries 4-11x FASTER at 8 cores
  * than 32 at sf0.1): is the 32-way tax per-task scheduling, GC,
  * spill, or stage count?
  */
object ScaleTax {
  private case class StageAgg(
      name: String, tasks: Int, wallMs: Long, runMs: Long, gcMs: Long,
      deserMs: Long, resultSerMs: Long, schedDelayMs: Long,
      inputBytes: Long, shReadBytes: Long, shWriteBytes: Long,
      spillBytes: Long)

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    val taskAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    var jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    // per-job callsite attribution: jobId -> (callsite, startMs)
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val jobAgg = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        jobStart.put(j.jobId, (site, j.time))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(j.jobId)
        if (s != null) {
          val arr = jobAgg.computeIfAbsent(s._1, _ => new Array[Long](2))
          arr.synchronized { arr(0) += 1; arr(1) += (j.time - s._2) }
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          val arr = taskAgg.computeIfAbsent(t.stageId, _ => new Array[Long](10))
          arr.synchronized {
            arr(0) += 1
            arr(1) += m.executorRunTime
            arr(2) += m.jvmGCTime
            arr(3) += m.executorDeserializeTime
            arr(4) += m.resultSerializationTime
            arr(5) += m.inputMetrics.bytesRead
            arr(6) += m.shuffleReadMetrics.totalBytesRead
            arr(7) += m.shuffleWriteMetrics.bytesWritten
            arr(8) += m.diskBytesSpilled
            // scheduler delay approximated at stage grain below
          }
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val wall = (for { a <- si.completionTime; b <- si.submissionTime } yield a - b).getOrElse(0L)
        val arr = taskAgg.getOrDefault(si.stageId, new Array[Long](10))
        // surface the first graft frame in the submission stack so
        // repeated subplans are attributable to operator code lines
        val graftFrame = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ScaleTax"))
          .getOrElse("").trim.take(70)
        stages.put(si.stageId, StageAgg(
          si.name.takeWhile(_ != '\n').take(40) + " | " + graftFrame,
          arr(0).toInt, wall,
          arr(1), arr(2), arr(3), arr(4), 0L,
          arr(5), arr(6), arr(7), arr(8)))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def force(df: DataFrame): Unit = {
      df.select(xxhash64(struct(col("*"))).as("h"))
        .agg(expr("bit_xor(h)")).collect()
      ()
    }
    // same warmup as Bench
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$dir/region.parquet").count()
      graft.SparkEntry.queries.get("raw_ingest").foreach(fn => fn(spark, dir).count())
    } catch { case _: Throwable => () }

    val selected = graft.SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_QUERIES"))
    selected.foreach { case (name, fn) =>
      (1 to 2).foreach { rep =>
        stages.clear(); taskAgg.clear(); jobs.set(0); jobAgg.clear()
        val t0 = System.nanoTime()
        force(fn(spark, dir))
        val wall = (System.nanoTime() - t0) / 1e9
        // let straggler listener events land
        Thread.sleep(300)
        import scala.jdk.CollectionConverters._
        val ss = stages.values.asScala.toSeq
        val totTasks = ss.map(_.tasks).sum
        val totRun = ss.map(_.runMs).sum
        val totGc = ss.map(_.gcMs).sum
        val totDeser = ss.map(_.deserMs).sum
        val totStageWall = ss.map(_.wallMs).sum
        val totSpill = ss.map(_.spillBytes).sum
        println(f"[scaletax] $name rep$rep cpus=$cpus wall=$wall%.2fs jobs=${jobs.get} stages=${ss.size} tasks=$totTasks " +
          f"stageWallSum=${totStageWall / 1e3}%.2fs taskRunSum=${totRun / 1e3}%.2fs gcSum=${totGc / 1e3}%.2fs deserSum=${totDeser / 1e3}%.2fs spill=${totSpill}")
        ss.sortBy(-_.wallMs).take(12).foreach { s =>
          println(f"[scaletax]   stage wall=${s.wallMs}%6dms tasks=${s.tasks}%4d run=${s.runMs}%6dms gc=${s.gcMs}%5dms deser=${s.deserMs}%5dms in=${s.inputBytes}%9d shR=${s.shReadBytes}%9d shW=${s.shWriteBytes}%9d ${s.name}")
        }
        val ja = jobAgg.asScala.toSeq.map { case (k, v) => (k, v(0), v(1)) }
        ja.sortBy(-_._3).take(15).foreach { case (site, n, ms) =>
          println(f"[scaletax]   jobs n=$n%4d wallSum=${ms}%6dms  $site")
        }
      }
      // bench-equivalent inter-entry hygiene
      org.apache.spark.sql.GraftInternal.releaseAll(spark)
    }
    spark.stop()
  }
}
