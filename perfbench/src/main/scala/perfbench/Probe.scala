package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in probe for the traced run: it watches the engine through
  * public Spark listener APIs only and records, in memory, the spans
  * the per-layer metrics are derived from (jobs, stages with their
  * summed task metrics, SQL executions, planning phases). Nothing in
  * the library is instrumented. Registered only when tracing.
  *
  * Events arrive asynchronously on the listener bus; spans carry epoch
  * milliseconds and are attributed to operations by time after the
  * session stops (which drains the bus).
  */
final class Probe(spark: SparkSession) {
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Long]]()
  private val sqlStarts = new ConcurrentLinkedQueue[(Long, Long)]()
  private val sqlEnds = new ConcurrentLinkedQueue[(Long, Long)]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  // stageId -> summed task metrics:
  // tasks, runMs, gcMs, inBytes, outBytes, shuffleWrite, spill
  private val taskAgg =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.add((e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add((e.jobId, e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = taskAgg.computeIfAbsent(e.stageId, _ => new Array[Long](7))
        a.synchronized {
          a(0) += 1
          a(1) += m.executorRunTime
          a(2) += m.jvmGCTime
          a(3) += m.inputMetrics.bytesRead
          a(4) += m.outputMetrics.bytesWritten
          a(5) += m.shuffleWriteMetrics.bytesWritten
          a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val a = Option(taskAgg.get(si.stageId)).getOrElse(new Array[Long](7))
      a.synchronized {
        stages.add(Map(
          "stage" -> si.stageId.toLong,
          "start_ms" -> si.submissionTime.getOrElse(0L),
          "end_ms" -> si.completionTime.getOrElse(0L),
          "tasks" -> a(0), "run_ms" -> a(1), "task_gc_ms" -> a(2),
          "input_bytes" -> a(3), "output_bytes" -> a(4),
          "shuffle_write_bytes" -> a(5), "spill_bytes" -> a(6)))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.add((s.executionId, s.time))
      case s: SparkListenerSQLExecutionEnd => sqlEnds.add((s.executionId, s.time))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Pins left behind after an op returns: persisted RDDs and cached
    * query plans. `CacheManager.numCachedEntries` is package-private in
    * Scala but public in bytecode, so it is read reflectively. */
  def pins(): (Int, Int) = {
    val cm = spark.sharedState.cacheManager
    (spark.sparkContext.getPersistentRDDs.size,
      cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int])
  }

  /** The recorded spans; call after the session has stopped. */
  def spans: Map[String, Any] = {
    def joined[K](s: ConcurrentLinkedQueue[(K, Long)],
        e: ConcurrentLinkedQueue[(K, Long)]): Seq[Seq[Any]] = {
      val ends = e.asScala.toMap
      s.asScala.toSeq.map { case (id, t0) => Seq(id, t0, ends.getOrElse(id, t0)) }
    }
    Map(
      "jobs" -> joined(jobStarts, jobEnds),
      "sql" -> joined(sqlStarts, sqlEnds),
      "planning" -> plans.asScala.toSeq.map { case (t, ms) => Seq(t, ms) },
      "stages" -> stages.asScala.toSeq)
  }
}

object Probe {
  /** Files under `dir` with their (size, mtime), for the warehouse
    * walk before and after each op. */
  def walk(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val st = java.nio.file.Files.walk(root)
      try st.iterator.asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map { p =>
          val f = p.toFile
          p.toString -> ((f.length, f.lastModified))
        }.toMap
      finally st.close()
    }
  }
}
