package graft

/** Generated operator catalog (VERDICT r9 item 8): one row per
  * registered driver query — the name a user runs, the library API it
  * exercises, and what it computes (with the scale design inline).
  *
  * The row is the query's own record (`QueryDef.api` / `QueryDef.desc`),
  * so a query without a row does not compile. `runMain graft.Catalog`
  * regenerates `docs/OPERATORS.md`; CatalogSpec fails the build when the
  * checked-in doc drifts from [[render]].
  */
object Catalog {

  def render(): String = {
    val sb = new StringBuilder
    sb ++= "# Operator catalog\n\n"
    sb ++= "Generated by `runMain graft.Catalog` — one row per registered driver\n"
    sb ++= "query (`graft.SparkEntry.queries`). Every query has a DuckDB oracle\n"
    sb ++= "(`SparkEntry.oracleSql`); MLlib/sketch-backed ones use pinned-invariant\n"
    sb ++= "summary oracles (noted inline). CatalogSpec keeps this file and the\n"
    sb ++= "registry in lockstep. `st_`-prefixed queries run the streaming operator\n"
    sb ++= "on batch data (their MemoryStream parity lives in the specs).\n"
    SparkEntry.modules.foreach { case (title, defs) =>
      sb ++= s"\n## $title\n\n| query | API | what it computes |\n|---|---|---|\n"
      defs.sortBy(_._1).foreach { case (q, d) =>
        sb ++= s"| `$q` | `${d.api}` | ${d.desc} |\n"
      }
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val path = java.nio.file.Paths.get(
      args.headOption.getOrElse("docs/OPERATORS.md"))
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(path, render())
    System.err.println(s"[catalog] wrote $path (${SparkEntry.queries.size} entries)")
  }
}
