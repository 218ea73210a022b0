package graft.sources

import graft.functions.{VectorFunctions => VF}
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sign-once / query-many persistence for the EMBEDDING near-dup
  * index — the [[MinhashIndexStore]] pattern applied to the
  * random-hyperplane LSH family of
  * [[graft.operators.Dedup.embeddingNearDupsAll]]: the corpus pays the
  * signature pass once, each new drop signs only itself and joins the
  * stored signature table
  * ([[graft.operators.Dedup.embeddingNearDupsDelta]]).
  *
  * Layout under `path`:
  *
  *  - `sigs/` — (vec_id, sig) parquet PARTITIONED BY table_id: one row
  *    per (vector, table) holding the table's sign-bit signature —
  *    ~12 bytes × tables per vector, ~3% of a 64-float corpus; the
  *    per-table subtrees let a replay process the bucket join
  *    table-by-table to bound peak shuffle.
  *
  * The plane weights are the seeded deterministic family
  * ([[VF.planeWeights]], same flat layout as `embeddingNearDupsAll`:
  * table `t` owns planes `[t*bits, (t+1)*bits)`), so a rebuilt index
  * is byte-identical and the delta query keeps a full value oracle.
  * `bits` is a BUILD parameter pinned in the path: the caller derives
  * it from the integer bucket-width law over the catalog total
  * (corpus + pending drops), exactly as the oracle recomputes it.
  */
object EmbLshIndexStore {

  /** Table count — same default as the batch all-corpus operator. */
  val NumTables: Int = 8

  /** The single `sigs/` layer, keyed by `vec_id` (see [[TombstonedLayers]]). */
  private val index = TombstonedLayers("elsh", "vec_id",
    TombstonedLayers.partitioned("sigs", "table_id", "int"))

  def defaultPath(datasetDir: String, bits: Int): String =
    StorePaths.keyedTmp("elsh", datasetDir, s"_t${NumTables}_b$bits")

  /** Per-(vector, table) signature rows for any (vec_id, embedding)
    * frame — the join-ready layout shared by the stored corpus side
    * and the in-plan delta side. Zero shuffle: the signature is a
    * per-row projection over the codegen'd hyperplane kernel.
    */
  def sigRows(emb: DataFrame, bits: Int): DataFrame = {
    graft.plans.GraftFunctions.ensureRegistered(emb.sparkSession)
    val weights = VF.planeWeights(NumTables * bits,
      Similarity.embeddingDim(emb))
    val perTable = (0 until NumTables).map { tbl =>
      struct(lit(tbl).as("table_id"),
        VF.hyperplaneSig(col("embedding"),
          weights.slice(tbl * bits, (tbl + 1) * bits)).as("sig"))
    }
    emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), explode(array(perTable: _*)).as("b"))
      .select(col("vec_id"), col("b.table_id").as("table_id"),
        col("b.sig").as("sig"))
  }

  def build(corpus: DataFrame, path: String, bits: Int): Unit =
    index.overwrite(path)("sigs" -> sigRows(corpus, bits))

  /** [[build]] at most once per JVM per path (same memo contract as
    * [[IvfIndexStore.ensure]]).
    */
  def ensure(corpus: DataFrame, path: String, bits: Int): Unit =
    index.once("plain", path)(build(corpus, path, bits))

  /** The stored signature table. Retracted vectors ([[delete]]) are
    * masked by a broadcast anti-join on the tombstone list — the serve
    * plan never sees their signature rows, without rewriting a single
    * index file (the [[MinhashIndexStore.bandsTable]] discipline).
    */
  def sigsTable(spark: SparkSession, path: String): DataFrame =
    index.table(spark, path)

  /** Retract vectors from the index — takedowns / right-to-be-
    * forgotten, deletion-vector style: ids append to `tombstones/`
    * (O(|retraction|) write, never an index rewrite at serve time) and
    * [[sigsTable]] masks them on read. Run [[compact]] when the list
    * outgrows broadcast size.
    */
  def delete(vecIds: DataFrame, path: String): Unit =
    index.delete(vecIds, path)

  /** Fold outstanding tombstones into `sigs/` and clear the ledgers
    * ([[TombstonedLayers.compact]]) — afterwards the serve pays zero
    * masking overhead and the retracted rows are physically gone.
    */
  def compact(spark: SparkSession, path: String): Unit =
    index.compact(spark, path)

  /** Memoized build-then-delete lifecycle for the retraction gate:
    * the first caller per JVM per path signs the full corpus and then
    * retracts `removed` via [[delete]]; later callers serve from the
    * masked index. The signature family is frozen at build (`bits`
    * from the build-time catalog total) — a takedown masks rows, it
    * never re-derives the quantization, exactly like the IVF frozen
    * quantizer on append.
    */
  def ensureDeleted(corpus: DataFrame, removed: DataFrame, path: String,
      bits: Int): Unit =
    index.ensureDeleted(removed, path)(build(corpus, path, bits))
}
