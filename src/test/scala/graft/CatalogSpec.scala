package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps docs/OPERATORS.md and the query registry in lockstep — the
  * CI-diff half of the generated operator catalog: one row per registered
  * query, no orphans — and pins that the registry refuses a name listed
  * twice. */
class CatalogSpec extends AnyFunSuite {

  /** Query names of the rows [[Catalog.render]] writes, in order. */
  private def renderedNames: Seq[String] =
    Catalog.render().linesIterator.collect {
      case l if l.startsWith("| `") => l.drop(3).takeWhile(_ != '`')
    }.toSeq

  test("catalog modules cover exactly the driver registry") {
    val moduleNames = SparkEntry.modules.flatMap(_._2.map(_._1)).toSet
    assert(moduleNames == SparkEntry.queries.keySet,
      s"module lists out of sync with SparkEntry.queries: " +
        s"only-modules=${(moduleNames -- SparkEntry.queries.keySet).toSeq.sorted}, " +
        s"only-registry=${(SparkEntry.queries.keySet -- moduleNames).toSeq.sorted}")
    assert(SparkEntry.modules.forall(_._2.nonEmpty),
      s"empty catalog sections: ${SparkEntry.modules.filter(_._2.isEmpty).map(_._1)}")
  }

  test("every registered query has a catalog entry, and no orphans") {
    val rows = renderedNames
    val missing = (SparkEntry.queries.keySet -- rows).toSeq.sorted
    val orphans = (rows.toSet -- SparkEntry.queries.keySet).toSeq.sorted
    val repeated = rows.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(missing.isEmpty && orphans.isEmpty && repeated.isEmpty,
      s"catalog rows drifted: missing=$missing orphans=$orphans repeated=$repeated")
    val blank = SparkEntry.registry.collect {
      case (n, d) if d.api.trim.isEmpty || d.desc.trim.isEmpty => n
    }.toSeq.sorted
    assert(blank.isEmpty, s"catalog rows with an empty API or description: $blank")
  }

  test("registry builder throws on a duplicate query name and names it") {
    def q(api: String) = graft.queries.QueryDef((s, _) => s.emptyDataFrame, None, api, "d")
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.registryOf(Seq("a" -> q("1"), "twice" -> q("2"), "b" -> q("3"), "twice" -> q("4")))
    }
    // names the duplicate, and only the duplicate
    assert(ex.getMessage.endsWith("duplicate query names: twice"), ex.getMessage)
    assert(SparkEntry.registryOf(Seq("a" -> q("1"), "b" -> q("2"))).keySet == Set("a", "b"))
  }

  test("docs/OPERATORS.md matches the generated catalog") {
    val path = java.nio.file.Paths.get("docs/OPERATORS.md")
    assert(java.nio.file.Files.exists(path),
      "docs/OPERATORS.md missing — run `sbt 'runMain graft.Catalog'`")
    val onDisk = java.nio.file.Files.readString(path)
    assert(onDisk == Catalog.render(),
      "docs/OPERATORS.md is stale — regenerate with `sbt 'runMain graft.Catalog'`")
  }
}
