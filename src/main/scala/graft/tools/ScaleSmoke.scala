package graft.tools

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke: replicate the sf0.1 testdata N× with offset keys into a
  * scratch dir (facts replicated with consistent join keys, dims kept
  * single — the realistic shape) so Bench can run at ~sf1 without
  * touching the read-only testdata. usage: ScaleSmoke [n] [outDir]
  */
object ScaleSmoke {

  def generate(spark: SparkSession, srcDir: String, outDir: String, n: Int): Unit = {
    // events.parquet carries TIMESTAMP(NANOS): the graft session reads
    // the raw nanos as LONG and they are written back as a plain long
    // column — Tables.events converts either representation
    val off = 100000000L
    def replicate(name: String, keyCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      val parts = (0 until n).map { i =>
        keyCols.foldLeft(base)((df, c) => df.withColumn(c, col(c) + lit(i * off)))
      }
      parts.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
    }
    def copy(name: String): Unit =
      spark.read.parquet(s"$srcDir/$name.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")

    replicate("lineitem", Seq("l_orderkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("customer", Seq("c_custkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
    copy("part"); copy("supplier"); copy("nation"); copy("region")
  }

  /** TWIN-FREE vector decade (r16 verdict item 1): the plain replica
    * datasets copy each embedding byte-identically N times, so every
    * probe's true top-5 is dominated by its own twins and the decade
    * recall dashboard could never read below 1.0 — it proved plumbing,
    * not retrieval quality. This mode perturbs every replica's vectors
    * with a deterministic per-(vec_id, dim, replica) jitter (xxhash64
    * → uniform-ish in ±0.06, about half the coordinate std of the
    * unit-norm base cloud): all N·|base| vectors are DISTINCT, a
    * probe's true neighbors become its ~cos 0.96 perturbed siblings
    * plus genuine cluster neighbors, and the index actually has to
    * find them among millions of unique points. Replica 0 keeps the
    * original vectors so the `vec_id < 8` probe set is unchanged.
    * Writes embeddings.parquet only — the whole ANN/recall family
    * reads nothing else.
    */
  def generateUniqueVectors(spark: SparkSession, srcDir: String,
      outDir: String, n: Int): Unit = {
    val off = 100000000L
    val base = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val parts = (0 until n).map { i =>
      if (i == 0) base
      else base
        .withColumn("vec_id", col("vec_id") + lit(i * off))
        .withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            (x + ((pmod(xxhash64(col("vec_id"), j, lit(i)), lit(2001L))
              .cast("double") - lit(1000d)) / lit(1000d)) * lit(0.06d))
              .cast("float")))
    }
    parts.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
    val chk = spark.read.parquet(s"$outDir/embeddings.parquet")
      .agg(count(lit(1)).as("rows"),
        count_distinct(xxhash64(col("embedding").cast("string")))
          .as("distinct_vecs")).head()
    println(s"""{"metric":"unique_vectors","rows":${chk.getLong(0)},""" +
      s""""distinct_vecs":${chk.getLong(1)},"n":$n,"out":"$outDir"}""")
  }

  /** Embeddings-only REPLICA decade: the plain `generate` layout for
    * the vector family alone (byte-identical copies, offset vec_ids) —
    * cheap to write when the query under test reads nothing but
    * embeddings.parquet (the whole dedup_embedding/knn/semantic
    * family).
    */
  def generateReplicaVectors(spark: SparkSession, srcDir: String,
      outDir: String, n: Int): Unit = {
    val off = 100000000L
    val base = spark.read.parquet(s"$srcDir/embeddings.parquet")
    (0 until n).map(i => base.withColumn("vec_id", col("vec_id") + lit(i * off)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val outDir = args.lift(1).getOrElse("/tmp/sfbig")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    if (args.lift(2).contains("vectors-replica")) {
      generateReplicaVectors(spark, "/root/testdata/sf0.1", outDir, n)
      println(s"[scale] wrote ${n}x REPLICA sf0.1 vectors to $outDir")
    } else if (args.lift(2).contains("vectors-unique")) {
      generateUniqueVectors(spark, "/root/testdata/sf0.1", outDir, n)
      println(s"[scale] wrote ${n}x TWIN-FREE sf0.1 vectors to $outDir")
    } else {
      generate(spark, "/root/testdata/sf0.1", outDir, n)
      println(s"[scale] wrote ${n}x sf0.1 to $outDir")
    }
    spark.stop()
  }
}
