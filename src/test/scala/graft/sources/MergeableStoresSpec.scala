package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame

/** The layout and lifecycle guards the four mergeable-state stores
  * share through [[StoreLayers]], driven over every store by one table:
  * a keyed fold into a flat store is refused before it lands, a flat
  * append into a keyed store is refused, and two memoized lifecycles
  * never share a path.
  */
class MergeableStoresSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_mergeable_$tag").toString

  private def docs: DataFrame = Seq(
    (1L, "alpha beta gamma", "en", "web"),
    (2L, "beta delta", "en", "wiki"),
    (3L, "gamma epsilon zeta", "de", "web"),
    (4L, "eta theta", "de", "wiki")
  ).toDF("doc_id", "text", "lang", "source")

  private def labels: DataFrame =
    Seq((1L, true), (2L, false), (3L, true), (4L, false)).toDF("doc_id", "label")

  private def emb: DataFrame = Seq(
    (1L, Seq(1f, 0f)), (2L, Seq(-1f, 0f)), (3L, Seq(0f, 2f)), (4L, Seq(0f, -2f))
  ).toDF("vec_id", "embedding")

  /** One store's flat build, flat append and keyed fold over the corpus. */
  private case class Store(name: String, layer: String,
      build: String => Unit, append: String => Unit,
      appendBatch: (String, Long) => Unit)

  private val stores = Seq(
    Store("GramStore", "moments", GramStore.build(emb, _),
      GramStore.append(emb, _), GramStore.appendBatch(emb, _, _)),
    Store("MixtureStore", "slices", MixtureStore.build(docs, _),
      MixtureStore.append(docs, _), MixtureStore.appendBatch(docs, _, _)),
    Store("NbModelStore", "counts", NbModelStore.build(docs, labels, _),
      NbModelStore.append(docs, labels, _),
      NbModelStore.appendBatch(docs, labels, _, _)),
    Store("SketchStore", "sketch", SketchStore.build(docs, _),
      SketchStore.append(docs, _), SketchStore.appendBatch(docs, _, _)))

  private def layerFiles(path: String, layer: String): Seq[String] =
    Option(new java.io.File(s"$path/$layer").list()).toSeq.flatten.sorted

  stores.foreach { s =>
    test(s"${s.name}: a keyed fold into a flat store is refused and writes nothing") {
      val path = freshPath(s"${s.name}_flat")
      s.build(path)
      val before = layerFiles(path, s.layer)
      val err = intercept[IllegalStateException](s.appendBatch(path, 0L))
      assert(err.getMessage.contains("FLAT layer files"))
      assert(layerFiles(path, s.layer) == before)
    }
  }

  test("SketchStore: a flat append into a keyed store is refused and writes nothing") {
    val sketch = stores.find(_.name == "SketchStore").get
    val path = freshPath("sketch_keyed")
    sketch.appendBatch(path, 0L)
    val before = layerFiles(path, sketch.layer)
    val err = intercept[IllegalStateException](sketch.append(path))
    assert(err.getMessage.contains("batch-keyed"))
    assert(layerFiles(path, sketch.layer) == before)
  }

  /** The rollover and retraction lifecycles of the stores that have both. */
  private val lifecycles = Seq(
    ("GramStore",
      (p: String) => GramStore.ensureRolled(emb, emb, p),
      (p: String) => GramStore.ensureDeleted(emb, emb.limit(1), p)),
    ("MixtureStore",
      (p: String) => MixtureStore.ensureRolled(docs, docs, p),
      (p: String) => MixtureStore.ensureDeleted(docs, docs.limit(1), p)))

  lifecycles.foreach { case (name, rolled, deleted) =>
    test(s"$name: ensureRolled and ensureDeleted exclude each other on one path") {
      val p1 = freshPath(s"${name}_rolled")
      rolled(p1)
      intercept[IllegalArgumentException](deleted(p1))
      val p2 = freshPath(s"${name}_deleted")
      deleted(p2)
      intercept[IllegalArgumentException](rolled(p2))
    }
  }
}
