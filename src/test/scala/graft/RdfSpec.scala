package graft

import org.apache.spark.sql.functions._
import graft.sources.Rdf

/** Raw RDF ingestion: N-Triples distributed parse, RDF/XML StAX parse,
  * Alignment-format gold, and the end-to-end OAEI bundle loader. */
class RdfSpec extends SparkSpec {

  private def tmpDir(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_rdf")
    d.toFile.deleteOnExit()
    d
  }
  private def write(dir: java.nio.file.Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  private val ntFixture =
    """# a comment line
      |<http://ex.org/e1> <http://ex.org/name> "Alice" .
      |<http://ex.org/e1> <http://ex.org/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
      |<http://ex.org/e1> <http://ex.org/bio> "says \"hi\"\nnewline é" .
      |<http://ex.org/e1> <http://ex.org/label> "Bonjour"@fr .
      |<http://ex.org/e1> <http://ex.org/knows> <http://ex.org/e2> .
      |<http://ex.org/e2> <http://ex.org/ref> _:b0 .
      |_:b0 <http://ex.org/name> "Anon" .
      |this line is garbage
      |""".stripMargin

  test("loadNTriples parses IRIs, literals, escapes, lang tags, bnodes; drops garbage") {
    val d = tmpDir()
    val p = write(d, "data.nt", ntFixture)
    val df = Rdf.loadNTriples(spark, p)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    assert(rows.length === 7) // garbage + comment dropped
    assert(rows.contains(("http://ex.org/e1", "http://ex.org/name", "Alice", true)))
    assert(rows.contains(("http://ex.org/e1", "http://ex.org/age",
      "30^^http://www.w3.org/2001/XMLSchema#integer", true)))
    assert(rows.contains(("http://ex.org/e1", "http://ex.org/bio",
      "says \"hi\"\nnewline é", true)))
    assert(rows.contains(("http://ex.org/e1", "http://ex.org/label", "Bonjour@fr", true)))
    assert(rows.contains(("http://ex.org/e1", "http://ex.org/knows", "http://ex.org/e2", false)))
    assert(rows.contains(("http://ex.org/e2", "http://ex.org/ref", "_:b0", false)))
    assert(rows.contains(("_:b0", "http://ex.org/name", "Anon", true)))
  }

  test("loadNTriples rejects an unclosed-IRI object instead of emitting an empty tail") {
    val d = tmpDir()
    val p = write(d, "unclosed.nt",
      "<http://a> <http://p> <http://broken .\n<http://a> <http://p> <http://ok> .\n")
    val rows = Rdf.loadNTriples(spark, p).collect()
    assert(rows.length === 1 && rows.head.getString(2) === "http://ok")
    val ex = intercept[Exception] {
      expectingTaskFailure(Rdf.loadNTriples(spark, p, strict = true).collect())
    }
    assert(ex.getMessage.contains("malformed") ||
      Option(ex.getCause).exists(_.getMessage.contains("malformed")))
  }

  test("toNTriples keeps suffix-shaped plain content as content") {
    import spark.implicits._
    // "user@gmail" must NOT become a lang tag (primary subtag is 2-3
    // letters); "wow ^^ smiley" must NOT become a datatype (needs a
    // scheme-qualified IRI); real @fr / ^^IRI suffixes still round-trip
    val df = Seq(
      ("http://e1", "http://p", "reach me at user@gmail", true),
      ("http://e1", "http://p", "wow ^^ smiley", true),
      ("http://e1", "http://q", "Bonjour@fr", true),
      ("http://e1", "http://r", "30^^http://www.w3.org/2001/XMLSchema#integer", true))
      .toDF("head", "rel", "tail", "is_literal")
    val d = tmpDir()
    val out = d.resolve("out").toString
    Rdf.toNTriples(df).write.text(out)
    val back = Rdf.loadNTriples(spark, out)
      .select("rel", "tail", "is_literal").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(back === Set(
      ("http://p", "reach me at user@gmail"),
      ("http://p", "wow ^^ smiley"),
      ("http://q", "Bonjour@fr"),
      ("http://r", "30^^http://www.w3.org/2001/XMLSchema#integer")))
    val lines = spark.read.text(out).as[String].collect().toSet
    assert(lines.contains("""<http://e1> <http://p> "reach me at user@gmail" ."""))
    assert(lines.contains("""<http://e1> <http://q> "Bonjour"@fr ."""))
  }

  test("loadNTriples strict mode raises on garbage lines") {
    val d = tmpDir()
    val p = write(d, "bad.nt", "not a triple at all\n")
    val ex = intercept[Exception] {
      expectingTaskFailure(Rdf.loadNTriples(spark, p, strict = true).collect())
    }
    assert(ex.getMessage.contains("malformed") ||
      Option(ex.getCause).exists(_.getMessage.contains("malformed")))
  }

  test("toNTriples round-trips through loadNTriples") {
    val d = tmpDir()
    val p = write(d, "rt.nt", ntFixture)
    val df = Rdf.loadNTriples(spark, p).orderBy("head", "rel", "tail")
    val outDir = d.resolve("out").toString
    Rdf.toNTriples(df).write.text(outDir)
    val back = Rdf.loadNTriples(spark, outDir).orderBy("head", "rel", "tail")
    assert(back.collect().toSeq === df.collect().toSeq)
  }

  private val rdfXmlFixture =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
      |         xmlns:ex="http://ex.org/" xml:base="http://base.org/">
      |  <ex:Person rdf:about="http://ex.org/p1" ex:nick="Al">
      |    <ex:name>Alice</ex:name>
      |    <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">30</ex:age>
      |    <ex:label xml:lang="fr">Bonjour</ex:label>
      |    <ex:knows rdf:resource="http://ex.org/p2"/>
      |    <ex:address rdf:parseType="Resource">
      |      <ex:city>Springfield</ex:city>
      |    </ex:address>
      |    <ex:pet>
      |      <ex:Dog rdf:about="http://ex.org/d1">
      |        <ex:name>Rex</ex:name>
      |      </ex:Dog>
      |    </ex:pet>
      |  </ex:Person>
      |  <rdf:Description rdf:ID="frag">
      |    <ex:name>Fragment</ex:name>
      |  </rdf:Description>
      |</rdf:RDF>
      |""".stripMargin

  test("loadRdfXml parses typed nodes, datatypes, lang, parseType=Resource, nesting, rdf:ID") {
    val d = tmpDir()
    val p = write(d, "data.rdf", rdfXmlFixture)
    val df = Rdf.loadRdfXml(spark, p)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    def has(h: String, rel: String, t: String, isLit: Boolean) =
      assert(rows.contains((h, rel, t, isLit)), s"missing ($h, $rel, $t); got:\n${rows.mkString("\n")}")
    has("http://ex.org/p1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://ex.org/Person", false)
    has("http://ex.org/p1", "http://ex.org/nick", "Al", true)
    has("http://ex.org/p1", "http://ex.org/name", "Alice", true)
    has("http://ex.org/p1", "http://ex.org/age", "30^^http://www.w3.org/2001/XMLSchema#integer", true)
    has("http://ex.org/p1", "http://ex.org/label", "Bonjour@fr", true)
    has("http://ex.org/p1", "http://ex.org/knows", "http://ex.org/p2", false)
    has("http://ex.org/d1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://ex.org/Dog", false)
    has("http://ex.org/d1", "http://ex.org/name", "Rex", true)
    has("http://base.org/#frag", "http://ex.org/name", "Fragment", true)
    // parseType=Resource: p1 --address--> bnode --city--> Springfield
    val addr = rows.filter(r => r._2 == "http://ex.org/address")
    assert(addr.length === 1 && !addr.head._4 && addr.head._3.startsWith("_:"))
    val city = rows.filter(r => r._2 == "http://ex.org/city")
    assert(city.length === 1 && city.head._1 === addr.head._3 && city.head._3 === "Springfield")
    // nested node object
    val pet = rows.filter(r => r._2 == "http://ex.org/pet")
    assert(pet.length === 1 && pet.head._3 === "http://ex.org/d1" && !pet.head._4)
  }

  private val alignmentFixture =
    """<?xml version="1.0" encoding="utf-8"?>
      |<rdf:RDF xmlns="http://knowledgeweb.semanticweb.org/heterogeneity/alignment#"
      |         xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">
      |<Alignment>
      |  <map><Cell>
      |    <entity1 rdf:resource="http://ex.org/p1"/>
      |    <entity2 rdf:resource="http://other.org/q1"/>
      |    <relation>=</relation><measure rdf:datatype="xsd:float">1.0</measure>
      |  </Cell></map>
      |  <map><Cell>
      |    <entity1 rdf:resource="http://ex.org/p2"/>
      |    <entity2 rdf:resource="http://other.org/q2"/>
      |    <relation>=</relation><measure>0.4</measure>
      |  </Cell></map>
      |  <map><Cell>
      |    <entity1 rdf:resource="http://ex.org/p3"/>
      |    <entity2 rdf:resource="http://other.org/q3"/>
      |    <relation>&gt;</relation><measure>1.0</measure>
      |  </Cell></map>
      |</Alignment>
      |</rdf:RDF>
      |""".stripMargin

  test("loadAlignment keeps '=' cells above the measure threshold") {
    val d = tmpDir()
    val p = write(d, "reference.xml", alignmentFixture)
    val all = Rdf.loadAlignment(spark, p).orderBy("left").collect()
    assert(all.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("http://ex.org/p1", "http://other.org/q1"),
        ("http://ex.org/p2", "http://other.org/q2")))
    val strict = Rdf.loadAlignment(spark, p, minMeasure = 0.5).collect()
    assert(strict.map(_.getString(0)).toSeq === Seq("http://ex.org/p1"))
  }

  test("loadOaei bundles source RDF/XML + target N-Triples + reference alignment") {
    val d = tmpDir()
    write(d, "source.rdf", rdfXmlFixture)
    write(d, "target.nt",
      """<http://other.org/q1> <http://other.org/name> "Alicia"@es .
        |<http://other.org/q1> <http://other.org/n> "7"^^<http://www.w3.org/2001/XMLSchema#int> .
        |<http://other.org/q1> <http://other.org/mail> "user@gmail" .
        |<http://other.org/q1> <http://other.org/near> <http://other.org/q2> .
        |""".stripMargin)
    write(d, "reference.xml", alignmentFixture)
    val ds = Rdf.loadOaei(spark, d.toString)
    // attr frames carry only literal triples, cleaned of datatype/lang
    assert(ds.left.isTriple && ds.left.idCol === "head")
    val leftTails = ds.left.df.select("tail").collect().map(_.getString(0)).toSet
    assert(leftTails.contains("Alice") && leftTails.contains("30") &&
      leftTails.contains("Bonjour"))
    assert(!leftTails.exists(_.contains("^^")) && !leftTails.exists(_.endsWith("@fr")))
    val rightTails = ds.right.df.select("tail").collect().map(_.getString(0)).toSet
    // @es strips (BCP-47-shaped) but suffix-shaped CONTENT survives the
    // clean — "user@gmail" must not be corrupted to "user"
    assert(rightTails === Set("Alicia", "7", "user@gmail"))
    // rel frames carry only resource triples
    val leftRels = ds.leftRel.get.select("rel").distinct().collect().map(_.getString(0)).toSet
    assert(leftRels.contains("http://ex.org/knows") &&
      leftRels.contains("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"))
    assert(ds.rightRel.get.collect().map(_.getString(2)).toSeq === Seq("http://other.org/q2"))
    // gold from the alignment (both '=' cells; measure filter off by default)
    assert(ds.gold.get.count() === 2)
    assert(ds.gold.get.columns.toSeq === Seq("source", "target"))
  }

  test("Experiment CLI auto-detects a raw OAEI pair directory end-to-end") {
    val d = tmpDir()
    write(d, "source.rdf", rdfXmlFixture)
    write(d, "target.nt",
      """<http://other.org/q1> <http://other.org/name> "Alice" .
        |<http://other.org/q2> <http://other.org/name> "Springfield" .
        |""".stripMargin)
    write(d, "reference.xml", alignmentFixture)
    val out = java.nio.file.Files.createTempDirectory("exp_oaei").toString
    val json = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", d.toString, "--blocker", "token", "--out", out)))
    assert(json.contains("\"recall\":"), json)
    assert(json.contains("\"n_blocks\":") || json.contains("\"time_in_s\":"), json)
  }

  test("N-Triples parse plan is a distributed text scan with codegen'd extraction") {
    val d = tmpDir()
    val p = write(d, "plan.nt", ntFixture)
    val plan = Rdf.loadNTriples(spark, p).queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // whole-stage codegen span covers the parse
    assert(!plan.contains("Exchange"), plan) // pure scan+project+filter: no shuffle
  }
}
