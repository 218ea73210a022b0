package graft

import org.scalatest.funsuite.AnyFunSuite

/** The entry registry's invariants: names are unique, and every entry is
  * checked by `tools/compare_oracle.py`, by its oracle SQL or by a
  * property check. No Spark job runs.
  */
class EntryRegistrySpec extends AnyFunSuite {
  import SparkEntry.Entry

  /** The keys of `PROPERTY_CHECKS` in `tools/compare_oracle.py`: the
    * `"name": [` lines between `PROPERTY_CHECKS = {` and the closing
    * brace at column 0.
    */
  private lazy val propertyChecks: Set[String] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/compare_oracle.py")), "UTF-8")
    val body = src.linesIterator
      .dropWhile(_ != "PROPERTY_CHECKS = {").drop(1)
      .takeWhile(_ != "}").toSeq
    val key = """^    "([a-z0-9_]+)": \[$""".r
    body.collect { case key(name) => name }.toSet
  }

  test("a repeated name throws and names the repeat") {
    val run = SparkEntry.queries("d_event")
    val err = intercept[IllegalArgumentException] {
      Entry.unique(Seq(Entry("a" -> "SELECT 1")(run), Entry("b")(run),
        Entry("a" -> "SELECT 2")(run)))
    }
    assert(err.getMessage == "repeated entry names: a")
    assert(Entry.unique(Seq(Entry("a")(run), Entry("b")(run))).size == 2)
  }

  test("the registry derives queries and oracleSql over its names") {
    assert(SparkEntry.queries.keySet == SparkEntry.registry.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.registry.filter(_.oracle.nonEmpty).map(_.name).toSet)
  }

  test("every entry without oracle SQL has a property check") {
    assert(propertyChecks.nonEmpty)
    val unchecked = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
      .filterNot(propertyChecks)
    assert(unchecked.isEmpty, s"entries with neither check: $unchecked")
  }

  test("every property check names an entry") {
    val unknown = propertyChecks -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"PROPERTY_CHECKS keys that name no entry: $unknown")
  }
}
