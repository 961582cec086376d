package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins every registered DuckDB oracle string by its sha256. The query
  * modules build their oracles from shared SQL fragments; a fragment
  * edit that changes any oracle byte (a CTE name, a space) fails here and
  * names the query. An intended oracle change updates its line in
  * `oracle_sql.sha256` (`name<TAB>hex`, sorted by name), which
  * `sbt 'Test/runMain graft.OracleSqlSpec'` prints in full. */
class OracleSqlSpec extends AnyFunSuite {
  import OracleSqlSpec._

  private lazy val golden: Seq[(String, String)] = {
    val src = scala.io.Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, hex) = l.split("\t", 2)
      name -> hex
    }.toSeq
    finally src.close()
  }

  test("the golden file lists exactly the oracled queries, sorted") {
    val names = golden.map(_._1)
    assert(names == names.sorted, "golden file is not sorted by name")
    val oracled = SparkEntry.oracleSql.keySet
    assert(names.toSet == oracled,
      s"only-golden=${(names.toSet -- oracled).toSeq.sorted}, " +
        s"only-registry=${(oracled -- names.toSet).toSeq.sorted}")
  }

  test("every oracle string matches its golden digest") {
    val changed = golden.collect {
      case (name, hex) if SparkEntry.oracleSql.get(name).exists(sha256(_) != hex) => name
    }
    assert(changed.isEmpty, s"oracle SQL changed for: ${changed.mkString(", ")}")
  }
}

object OracleSqlSpec {
  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Prints the golden file's content for the current registry. */
  def main(args: Array[String]): Unit =
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (n, sql) => println(s"$n\t${sha256(sql)}") }
}
