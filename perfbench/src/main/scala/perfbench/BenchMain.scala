package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{CorpusPipeline, GraftSession, Pipeline, SparkEntry}
import graft.Pipeline.StageResult
import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed loop with one caller over
  * graft's public chain APIs.
  *
  * Set-up is session creation (`GraftSession.local`, which registers
  * the native functions) plus [[WarmUpOps]] untimed ops. Then it runs
  * ops back to back — one `Pipeline.runDailyLoad` per drop, or one
  * `CorpusPipeline.runCuration` per corpus pass — until `--seconds` have
  * passed; each starts only after the previous one returned. After each
  * op, outside its timed span, its output is snapshotted (hard links) for
  * the oracle check that runs after exit.
  * With `--trace 1` a [[Probe]] watches the run from outside.
  *
  * Args (all required): --workload --inputs --work --seconds --trace
  * --cores --launch-ms --out. `inputs/ops.tsv` lists the drops in load
  * order as `path <TAB> rows <TAB> bytes`.
  */
object BenchMain {

  /** Untimed ops at the end of set-up: the cold cost (class loading,
    * first code generation) a spark-submit-per-task deployment pays. */
  val WarmUpOps = 1

  /** Untimed ops after set-up, outside every metric: the op right after
    * the warm-up is still far slower than the ones after it while the JIT
    * compiles the hot paths (daily: 6.5, 5.2, 4.7, 4.5 s; curation: 8.5,
    * 7.0, 6.8, 6.5 s), and a run fits only a few timed ops. */
  val SettleOps = 1

  final case class Input(rel: String, rows: Long, bytes: Long)

  /** One workload's chain: its next op, where it writes, what it holds. */
  trait Chain {
    /** Run the next op; returns the input consumed and the stage list. */
    def next(): (Input, Seq[StageResult])
    /** Directory the ops write to. */
    def outDir: String
    /** Inputs behind the current output, in load order. */
    def loaded: Seq[Input]
  }

  final class DailyChain(spark: SparkSession, inputs: String, work: String,
      drops: Seq[Input]) extends Chain {
    private var cycle = 0
    private var k = 0
    def outDir: String = s"$work/wh$cycle"
    def loaded: Seq[Input] = drops.take(k)
    def next(): (Input, Seq[StageResult]) = {
      if (k == drops.size) {
        // every drop loaded: start the month again in a fresh warehouse
        deleteTree(outDir)
        cycle += 1
        k = 0
      }
      val d = drops(k)
      k += 1
      (d, Pipeline.runDailyLoad(spark, Tables.events(spark, s"$inputs/${d.rel}"),
        Tables.part(spark, inputs), outDir))
    }
  }

  final class CorpusChain(spark: SparkSession, inputs: String, work: String,
      corpus: Input) extends Chain {
    val outDir: String = s"$work/curated"
    def loaded: Seq[Input] = Seq(corpus)
    def next(): (Input, Seq[StageResult]) =
      (corpus, CorpusPipeline.runCuration(spark, s"$inputs/${corpus.rel}", outDir))
  }

  /** Hard-link every file under `from` into the same layout under `to`.
    * The chains never modify a written file in place (they write new
    * files and rename directories), so the links keep this op's output
    * readable after later ops, at no copy cost. */
  def snapshot(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val st = java.nio.file.Files.walk(src)
    try st.iterator.asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.createLink(q, p)
    } finally st.close()
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val st = java.nio.file.Files.walk(root)
      try st.iterator.asScala.toSeq.reverse.foreach(p => java.nio.file.Files.delete(p))
      finally st.close()
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** VmHWM (peak resident set) of this JVM, in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val launchMs = a("launch-ms").toLong

    val src = scala.io.Source.fromFile(s"$inputs/ops.tsv")
    val listed = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(rel, rows, bytes) = l.split("\t")
      Input(rel, rows.toLong, bytes.toLong)
    }.toVector finally src.close()

    val spark = GraftSession.local(cores)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val probe = if (trace) Some(new Probe(spark)) else None

    val main: Chain = workload match {
      case "corpus_curation" => new CorpusChain(spark, inputs, work, listed.head)
      case _ => new DailyChain(spark, inputs, work, listed)
    }

    // set-up ends after the untimed warm-up; the timed loop continues the
    // same chain, so every timed daily op merges into a warehouse that
    // already holds data, like the ops before and after it
    val tw = System.nanoTime()
    (1 to WarmUpOps).foreach(_ => main.next())
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    (1 to SettleOps).foreach(_ => main.next())

    val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    var failed = false
    val loopStart = System.nanoTime()
    while (!failed && (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val before = if (trace) Probe.walk(main.outDir) else Map.empty[String, (Long, Long)]
      val gc0 = gcMs()
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(main.next()) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      val gc = (gcMs() - gc0) / 1e3
      val rec = mutable.LinkedHashMap[String, Any]("i" -> ops.size, "wall_s" -> wall,
        "t0_ms" -> t0ms, "t1_ms" -> t1ms, "gc_s" -> gc)
      res match {
        case Left(e) =>
          failed = true
          rec ++= Seq("ok" -> false, "error" -> e.toString)
        case Right((in, stages)) =>
          rec ++= Seq("ok" -> true, "input" -> in.rel, "rows" -> in.rows,
            "bytes" -> in.bytes, "loaded" -> main.loaded.map(_.rel),
            "stages" -> stages.map(s => Seq(s.name, s.rows, s.seconds)))
          probe.foreach { p =>
            val (rdds, plans) = p.pins()
            val after = Probe.walk(main.outDir)
            rec ++= Seq("pins_rdds" -> rdds, "pins_plans" -> plans,
              "files_written" -> after.count { case (f, v) => !before.get(f).contains(v) },
              "out_bytes" -> after.values.map(_._1).sum,
              "in_bytes_total" -> main.loaded.map(_.bytes).sum)
          }
          // keep this op's output for the oracle check, outside the timed span
          val snap = s"$work/snap/${ops.size}"
          snapshot(main.outDir, snap)
          rec += "snapshot" -> snap
      }
      ops += rec
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "trace" -> trace,
      "session_s" -> sessionS, "warmup_s" -> warmS, "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(), "ops" -> ops,
      // the repo's own oracle SQL for the chain, replayed by the checker
      "oracle_sql" -> SparkEntry.oracleSql(
        if (workload == "corpus_curation") "pipeline_corpus" else "pipeline_daily"))
    spark.stop()
    probe.foreach(p => result += "spans" -> p.spans)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(a("out")), result)
  }
}
