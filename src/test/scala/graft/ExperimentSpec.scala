package graft

import org.apache.spark.sql.functions._
import graft.core.BlockingDataset
import graft.eval.Evaluation

/** The experiment CLI front door (reference experiment.py:481-567) and the
  * sylloge/OpenEA benchmark loader (ea_dataset.py:28-110). */
class ExperimentSpec extends SparkSpec {

  /** Write a minimal OpenEA-shaped fixture dir (headerless TSV, the
    * published dump layout) derived from the conftest A/B tables. */
  private def openEaFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("openea").toString
    def w(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/$name"), lines.mkString("", "\n", "\n"))
    w("attr_triples_1", Seq(
      "a1\thasName\tJohn McExample",
      "a1\tbday\t\"11-12-1973\"^^<http://www.w3.org/2001/XMLSchema#date>",
      "a2\thasName\tMaggie Smith",
      "a3\thasName\tRebecca Smith",
      "a4\thasName\tNushi Devi",
      "a5\thasName\tGrzegorz Brzęczyszczykiewicz"))
    w("attr_triples_2", Seq(
      "b1\tname\tJohn McExample",
      "b1\tborn\t\"11-12-1973\"^^<http://www.w3.org/2001/XMLSchema#date>",
      "b2\tname\tMaggie Smith",
      "b3\tname\tRebecca Smith",
      "b4\tname\tAnh Nguyen",
      "b5\tname\tNushi Zhang"))
    w("rel_triples_1", Seq("a1\tknows\ta2", "a3\tknows\ta1"))
    w("rel_triples_2", Seq("b1\tknows\tb2", "b3\tknows\tb1"))
    w("ent_links", Seq("a1\tb1", "a2\tb2", "a3\tb3"))
    dir
  }

  test("loadMovieGraph resolves the repository pair layout and names the sides") {
    // MovieGraphBenchmark repo shape: <root>/data/<pair>/<openea files>
    val root = java.nio.file.Files.createTempDirectory("mgb").toString
    val pairDir = s"$root/data/imdb-tmdb"
    new java.io.File(pairDir).mkdirs()
    val src = openEaFixture()
    for (f <- Seq("attr_triples_1", "attr_triples_2", "rel_triples_1",
        "rel_triples_2", "ent_links"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$src/$f"),
        java.nio.file.Paths.get(s"$pairDir/$f"))
    // a file:// URI resolves through Hadoop exactly like the bare path
    for (r <- Seq(root, s"file://$root")) {
      val ds = BlockingDataset.loadMovieGraph(spark, r, "imdb-tmdb")
      assert(ds.left.tableName == "imdb" && ds.right.tableName == "tmdb")
      assert(ds.left.df.count() == 6 && ds.gold.get.count() == 3)
      // --format auto finds the sole pair dir without --graph-pair
      val auto = Experiment.loadDataset(spark, Experiment.parseArgs(Array(
        "--data", r, "--blocker", "token", "--out", "/tmp/x")))
      assert(auto.left.tableName == "imdb" && auto.gold.isDefined, r)
    }
  }

  test("loadSylloge reads the normalized parquet cache (OAEI shape)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sylloge").toString
    // sylloge normalizes to (head, relation, tail) + ent_links(left, right)
    Seq(("a1", "hasName", "John"), ("a2", "hasName", "\"5\"^^xsd:int"))
      .toDF("head", "relation", "tail")
      .write.parquet(s"$dir/attr_triples_left.parquet")
    Seq(("b1", "name", "John"), ("b2", "name", "Jane"))
      .toDF("head", "relation", "tail")
      .write.parquet(s"$dir/attr_triples_right.parquet")
    Seq(("a1", "knows", "a2")).toDF("head", "relation", "tail")
      .write.parquet(s"$dir/rel_triples_left.parquet")
    Seq(("a1", "b1")).toDF("left", "right")
      .write.parquet(s"$dir/ent_links.parquet")
    for (d <- Seq(dir, s"file://$dir")) {
      val ds = BlockingDataset.loadSylloge(spark, d)
      assert(ds.left.isTriple && ds.left.df.columns.toSeq == Seq("head", "rel", "tail"))
      assert(ds.left.df.filter(col("head") === "a2").head.getString(2) == "\"5\"",
        "datatype suffix must be stripped")
      assert(ds.rightRel.isEmpty && ds.leftRel.get.count() == 1, d)
      assert(ds.gold.get.columns.toSeq == Seq("left", "right"))
      // --format auto detects the parquet cache shape
      val auto = Experiment.loadDataset(spark, Experiment.parseArgs(Array(
        "--data", d, "--blocker", "token", "--out", "/tmp/x")))
      assert(auto.left.isTriple && auto.gold.get.count() == 1)
    }
  }

  test("cluster-file gold expands to inter-dataset pairs only") {
    val dir = openEaFixture()
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/ent_links"))
    // one 3-member cluster spanning sides (2 intra-left ids → 2 cross
    // pairs, no intra pair), one singleton-per-side cluster, one
    // left-only cluster (contributes nothing)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/ent_clusters"),
      "imdb:a1\timdb:a2\ttmdb:b1\nimdb:a3\ttmdb:b3\nimdb:a4\timdb:a5\n")
    for (d <- Seq(dir, s"file://$dir")) {
      val ds = BlockingDataset.loadOpenEA(spark, d, leftName = "imdb", rightName = "tmdb")
      assert(ds.gold.isDefined, d)
      val pairs = ds.gold.get.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(pairs == Set(("imdb:a1", "tmdb:b1"), ("imdb:a2", "tmdb:b1"),
        ("imdb:a3", "tmdb:b3")))
    }
    // prefixes that match NO cluster member must fail loudly instead of
    // expanding to an empty gold (every metric would silently report 0)
    val e = intercept[IllegalArgumentException] {
      BlockingDataset.loadOpenEA(spark, dir).gold.get.count()
    }
    assert(e.getMessage.contains("imdb") && e.getMessage.contains("tmdb"),
      s"error must list the prefixes actually present, got: ${e.getMessage}")
  }

  test("loadOpenEA reads the sylloge folder layout with datatype cleaning") {
    val dir = openEaFixture()
    for (d <- Seq(dir, s"file://$dir")) {
      val ds = BlockingDataset.loadOpenEA(spark, d)
      assert(ds.left.isTriple && ds.right.isTriple && ds.left.idCol == "head")
      assert(ds.left.df.count() == 6 && ds.right.df.count() == 6)
      assert(ds.leftRel.isDefined && ds.rightRel.isDefined && ds.gold.isDefined, d)
      assert(ds.leftRel.get.count() == 2 && ds.rightRel.get.count() == 2)
      assert(ds.gold.get.count() == 3)
      // S2 datatype strip applied to attribute tails (ea_dataset.py:88-91)
      val bday = ds.left.df.filter(col("rel") === "bday").head.getString(2)
      assert(bday == "\"11-12-1973\"", s"datatype suffix must be stripped, got $bday")
      // rel triples are NOT cleaned (reference cleans attr frames only)
      assert(ds.leftRel.get.columns.toSeq == Seq("head", "rel", "tail"))
    }
  }

  test("Experiment CLI end-to-end: token blocker on an OpenEA fixture") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_out").toString
    val metrics = s"$out/metrics.json"
    val c = Experiment.parseArgs(Array(
      "--data", data, "--blocker", "token", "--out", out,
      "--metrics", metrics, "--min-token-length", "3"))
    val json = Experiment.run(spark, c)

    // artifact written and identical to the returned line
    val onDisk = java.nio.file.Files.readString(java.nio.file.Paths.get(metrics)).trim
    assert(onDisk == json)

    // blocks round-trip through the parquet sink
    val blocks = graft.core.Blocks.read(spark, s"$out/blocks")
    assert(blocks.df.count() > 0)

    // metrics agree with a direct evaluation of the same blocker output
    val ds = BlockingDataset.loadOpenEA(spark, data)
    val direct = Evaluation.evaluate(
      graft.blockers.TokenBlocker().assign(ds.left, ds.right),
      ds.gold.get, 5L, 5L)
    def field(k: String): String =
      s""""$k":([0-9.eE+-]+|null)""".r.findFirstMatchIn(json)
        .getOrElse(fail(s"missing $k in $json")).group(1)
    assert(field("tp").toDouble.toLong == direct.truePositive)
    assert(field("pairs").toDouble.toLong == direct.compWithBlocking)
    assert(math.abs(field("recall").toDouble - direct.recall) < 1e-6)
    assert(math.abs(field("h3r").toDouble - direct.h3r) < 1e-6)
    assert(field("left_len").toDouble.toLong == 5L)

    // phase times: all four present, non-negative, summing to ~total
    val phases = Seq("load", "assign", "write", "eval").map { p =>
      s""""$p":([0-9.]+)""".r.findFirstMatchIn(json)
        .getOrElse(fail(s"missing phase $p")).group(1).toDouble
    }
    assert(phases.forall(_ >= 0.0))
    assert(math.abs(phases.sum - field("total_time_in_s").toDouble) < 1e-3)
  }

  test("--abbrev-learn threads LEARNED abbreviations into the blocker (runFull cEff)") {
    // The attribute values TEACH "fig": 5 always-period-final
    // occurrences in a 50-token corpus → p1 = 0.1, score = 10·ln(9.9)·
    // e^-4 ≈ 0.42 ≥ 0.3; no static-list entry. The learned guard
    // changes the BLOCK KEYS ("fig." kept whole vs a sentence split),
    // so a regression that builds the blocker from the unlearned
    // config (c instead of cEff) fails here, not just in unit tests.
    val dir = java.nio.file.Files.createTempDirectory("abbrevlearn").toString
    def w(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/$name"), lines.mkString("", "\n", "\n"))
    val figVal = "see fig. Two for details"
    val filler = "alpha beta gamma delta epsilon"
    w("attr_triples_1", Seq(
      s"a1\tnote\t$figVal", s"a2\tnote\t$figVal", s"a3\tnote\t$figVal",
      s"a4\tnote\t$filler", s"a5\tnote\t$filler"))
    w("attr_triples_2", Seq(
      s"b1\tnote\t$figVal", s"b2\tnote\t$figVal",
      s"b3\tnote\t$filler", s"b4\tnote\t$filler", s"b5\tnote\t$filler"))
    w("rel_triples_1", Seq("a1\tknows\ta2"))
    w("rel_triples_2", Seq("b1\tknows\tb2"))
    w("ent_links", Seq("a1\tb1", "a2\tb2"))
    def keysOf(flags: String*): Set[String] = {
      val out = java.nio.file.Files.createTempDirectory("abbrev_out").toString
      Experiment.run(spark, Experiment.parseArgs(Array(
        "--data", dir, "--blocker", "token", "--out", out,
        "--tokenizer", "nltk") ++ flags))
      graft.core.Blocks.read(spark, s"$out/blocks").df
        .select("block_key").collect().map(_.getString(0)).toSet
    }
    val learned = keysOf("--abbrev-learn")
    assert(learned.contains("fig.") && !learned.contains("fig"), learned.toString)
    // mutation direction: same pipeline without the flag splits the
    // sentence at "fig." and blocks on the bare token
    val unlearned = keysOf()
    assert(unlearned.contains("fig") && !unlearned.contains("fig."),
      unlearned.toString)
  }

  test("Experiment format autodetection dispatches OpenEA vs parquet bundles") {
    import spark.implicits._
    val openea = openEaFixture()
    assert(Experiment.loadDataset(spark,
      Experiment.parseArgs(Array("--data", openea, "--blocker", "token", "--out", "/tmp/x")))
      .left.isTriple)

    val bundle = java.nio.file.Files.createTempDirectory("bundle").toString
    tableA.df.write.parquet(s"$bundle/left.parquet")
    tableB.df.write.parquet(s"$bundle/right.parquet")
    val ds = Experiment.loadDataset(spark,
      Experiment.parseArgs(Array("--data", bundle, "--blocker", "token", "--out", "/tmp/x")))
    assert(!ds.left.isTriple && ds.left.df.count() == 5)
  }

  test("every registered blocker name constructs (the reference's 17-command surface)") {
    val base = Experiment.parseArgs(Array(
      "--data", "/tmp/d", "--blocker", "token", "--out", "/tmp/o", "--key", "Name"))
    Experiment.BlockerNames.foreach { name =>
      val b = Experiment.blockerFor(base.copy(blocker = name))
      assert(b != null, name)
    }
    val err = intercept[IllegalArgumentException] {
      Experiment.blockerFor(base.copy(blocker = "nope"))
    }
    assert(err.getMessage.contains("token"))
  }

  test("parseArgs: options, flags, and required arguments") {
    val c = Experiment.parseArgs(Array(
      "--data", "/d", "--blocker", "lsh", "--out", "/o",
      "--threshold", "0.7", "--num-perm", "64", "--fn-weight", "0.3",
      "--top-n-a", "5", "--top-n-r", "-1", "--sample-mod", "2",
      "--no-clean", "--no-write"))
    assert(c.threshold == 0.7 && c.numPerm == 64 && c.fnWeight == 0.3)
    assert(c.topNA.contains(5) && c.topNR.isEmpty, "non-positive top-n means None")
    assert(c.sampleMod.contains(2) && !c.clean && !c.writeBlocks)
    intercept[IllegalArgumentException] {
      Experiment.parseArgs(Array("--data", "/d", "--blocker", "lsh"))
    }
  }

  test("--bucketed writes a catalog-backed bucketed blocks table; --strategy selects ANN path") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_bkt").toString
    val json = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", data, "--blocker", "token", "--out", out, "--bucketed", "4")))
    assert(json.contains("\"recall\":"))
    val tbl = "graft_blocks_" + math.abs(out.hashCode).toString
    assert(spark.catalog.tableExists(tbl), "bucketed sink must register a table")
    // ANN strategy knob reaches the blocker (construction-level check)
    val base = Experiment.parseArgs(Array(
      "--data", data, "--blocker", "embedding-knn", "--out", out, "--strategy", "ivf"))
    assert(Experiment.blockerFor(base)
      .asInstanceOf[graft.blockers.EmbeddingKnnBlocker]
      .strategy.isInstanceOf[graft.blockers.AnnStrategy.Ivf])
    intercept[IllegalArgumentException] {
      Experiment.blockerFor(base.copy(strategy = "hnsw"))
    }
    // --hubness reaches the kNN blocker, directly and through the
    // composite's relation pass
    assert(Experiment.blockerFor(base.copy(hubness = Some("nicdm")))
      .asInstanceOf[graft.blockers.EmbeddingKnnBlocker]
      .hubness.contains(graft.similarity.Similarity.HubnessReduction.Nicdm(5)))
    assert(Experiment
      .blockerFor(base.copy(blocker = "composite-embedding", hubness = Some("mp")))
      .asInstanceOf[graft.blockers.CompositeUniqueNameBlocker]
      .relationBlocker.get.asInstanceOf[graft.blockers.EmbeddingKnnBlocker]
      .hubness.contains(graft.similarity.Similarity.HubnessReduction.MutualProximity))
    assert(Experiment.blockerFor(base.copy(hubness = Some("dsl")))
      .asInstanceOf[graft.blockers.EmbeddingKnnBlocker]
      .hubness.contains(graft.similarity.Similarity.HubnessReduction.DisSimLocal(5)))
    intercept[IllegalArgumentException] {
      Experiment.blockerFor(base.copy(hubness = Some("hubless")))
    }
  }

  test("--compare emits the A10 dice of the two blockers' TP sets") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_cmp").toString
    val c = Experiment.parseArgs(Array(
      "--data", data, "--blocker", "token", "--out", out,
      "--compare", "unique-name", "--no-write"))
    val json = Experiment.run(spark, c)
    assert(json.contains(""""compare_blocker":"unique-name""""))
    val dice = """"dice_tp":([0-9.]+)""".r.findFirstMatchIn(json)
      .getOrElse(fail(s"missing dice_tp in $json")).group(1)
    // the same two blockings, scored on their own
    val ds = Experiment.loadDataset(spark, c)
    def assign(name: String) = Experiment.blockerFor(c.copy(blocker = name))
      .assign(ds.left, ds.right, ds.leftRel, ds.rightRel)
    val direct = Evaluation.diceOfTruePositives(assign("token"), assign("unique-name"), ds.gold.get)
    assert(dice == String.format(java.util.Locale.ROOT, "%.6f", Double.box(direct)))
  }

  test("--compare with several names emits the N-way blocker report") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_cmpn").toString
    val json = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", data, "--blocker", "token", "--out", out,
      "--compare", "unique-name,standard", "--key", "Name", "--no-write")))
    assert(json.contains(""""comparison":["""))
    // three report rows: the primary token run + the two named blockers
    val blockers = """"blocker":"([^"]+)"""".r.findAllMatchIn(json).map(_.group(1)).toSet
    assert(blockers == Set("token", "unique-name", "standard"))
    // exactly one best row, and its self-referential columns are fixed
    val bests = """"is_best":(true|false)""".r.findAllMatchIn(json).count(_.group(1) == "true")
    assert(bests == 1)
    assert(json.contains(""""dice_vs_best":1.000000""") ||
      json.contains(""""dice_vs_best":0.000000""")) // best self-dice (0 only if best has 0 TPs)
  }

  test("relational blockers run end-to-end through the CLI on the fixture") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_rel").toString
    val json = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", data, "--blocker", "relational-token", "--out", out,
      "--top-n-a", "3", "--top-n-r", "2")))
    assert(json.contains("\"recall\":"))
    assert(graft.core.Blocks.read(spark, s"$out/blocks").df.count() > 0)
  }

  private def jsonField(json: String, k: String): String =
    s""""$k":([0-9.eE+-]+|null)""".r.findFirstMatchIn(json)
      .getOrElse(fail(s"missing $k in $json")).group(1)

  test("--eval-only re-scores written blocks with metrics equal to the inline path") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_eo").toString
    val full = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", data, "--blocker", "token", "--out", out)))
    // re-evaluate the WRITTEN blocks without a blocker (later_eval.py flow)
    val evalOnly = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", data, "--eval-only", s"$out/blocks")))
    for (k <- Seq("tp", "fp", "fn", "pairs", "recall", "precision",
        "f_measure", "h3r", "left_len", "right_len"))
      assert(jsonField(evalOnly, k) == jsonField(full, k),
        s"$k differs: eval-only=${jsonField(evalOnly, k)} full=${jsonField(full, k)}")
    assert(evalOnly.contains(""""blocker":"eval-only""""))
    // no blocker ran: the full pipeline's phases are absent
    assert(!evalOnly.contains(""""assign":""") && !evalOnly.contains(""""write":"""))
  }

  test("--embeddings caches S7-style: second run skips encode and is identical") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_emb").toString
    val emb = java.nio.file.Files.createTempDirectory("emb_cache").toString
    def runOnce(extra: String*): String =
      Experiment.run(spark, Experiment.parseArgs(Array(
        "--data", data, "--blocker", "embedding-knn", "--out", out,
        "--embeddings", emb, "--k", "2", "--no-write") ++ extra))
    val first = runOnce()
    assert(jsonField(first, "encode_misses") == "2",
      "first run must encode both sides")
    assert(new java.io.File(s"$emb/left.parquet").exists() &&
      new java.io.File(s"$emb/right.parquet").exists())
    val second = runOnce()
    assert(jsonField(second, "encode_misses") == "0",
      "second run must load both sides from the cache")
    // a cache hit is a lazy parquet read — encode wall time ≈ 0
    assert(jsonField(second, "encode").toDouble < 0.5,
      s"cache-hit encode should be ~0, got ${jsonField(second, "encode")}")
    // identical results off the cached embeddings
    for (k <- Seq("tp", "fp", "fn", "pairs", "recall"))
      assert(jsonField(second, k) == jsonField(first, k), s"$k differs")
    // --force-encode re-encodes and overwrites
    val forced = runOnce("--force-encode")
    assert(jsonField(forced, "encode_misses") == "2")
    // stale-cache guard: a different encoder config (dims) on the SAME
    // warm dir must re-encode, not silently serve 8-dim vectors
    val redim = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", data, "--blocker", "embedding-knn", "--out", out,
      "--embeddings", emb, "--k", "2", "--dims", "16", "--no-write")))
    assert(jsonField(redim, "encode_misses") == "2",
      "changed --dims must invalidate the cache")
  }

  test("--append-metrics appends one parseable JSON line per run (multi-run tracker)") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_tr").toString
    val track = s"$out/runs.jsonl"
    def runWith(blocker: String): String =
      Experiment.run(spark, Experiment.parseArgs(Array(
        "--data", data, "--blocker", blocker, "--out", out,
        "--append-metrics", track, "--no-write")))
    runWith("token")
    runWith("unique-name")
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(track)).toArray.map(_.toString)
    assert(lines.length == 2, s"expected 2 tracker lines, got ${lines.length}")
    lines.foreach { l =>
      assert(l.startsWith("{") && l.endsWith("}"), s"not a JSON object: $l")
      assert(l.contains(""""config":{"""), "config provenance missing")
    }
    // the two runs stay distinguishable by their config
    assert(lines(0).contains(""""blocker":"token""""))
    assert(lines(1).contains(""""blocker":"unique-name""""))
    assert(lines(0) != lines(1))
  }

  test("metrics JSON escapes quotes, backslashes and tabs in its strings") {
    val out = java.nio.file.Files.createTempDirectory("exp_esc").toString + "/a\"b\\c\td"
    val json = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", openEaFixture(), "--blocker", "token", "--out", out, "--no-write")))
    val parsed = org.json4s.jackson.JsonMethods.parse(json)
    assert((parsed \ "out") == org.json4s.JString(out))
    assert((parsed \ "config" \ "out") == org.json4s.JString(out))
  }

  test("--word-vectors drives the TableTokenEncoder path end-to-end") {
    import spark.implicits._
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_wv").toString
    // a tiny real vector table covering the fixture's name tokens; the
    // rest are out-of-vocabulary, so the unknown-token skip engages
    val wv = java.nio.file.Files.createTempDirectory("exp_wv_vec").toString + "/v.parquet"
    Seq("john", "mcexample", "maggie", "rebecca", "smith", "nushi")
      .zipWithIndex
      .map { case (t, i) => (t, Seq(math.cos(i).toDouble, math.sin(i).toDouble)) }
      .toDF("token", "vec").write.parquet(wv)
    val json = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", data, "--blocker", "embedding-knn", "--out", out,
      "--word-vectors", wv, "--sif", "--dims", "2", "--k", "2")))
    assert(json.contains("\"recall\":"), json)
  }

  test("--tokenizer nltk threads into every token-stream blocker and rejects the rest") {
    val base = Experiment.parseArgs(Array(
      "--data", "/tmp/d", "--blocker", "token", "--out", "/tmp/o",
      "--key", "Name", "--tokenizer", "nltk"))
    // construction-level: the seam is populated on each threaded blocker
    assert(Experiment.blockerFor(base)
      .asInstanceOf[graft.blockers.TokenBlocker].tokenizer.isDefined)
    assert(Experiment.blockerFor(base.copy(blocker = "lsh"))
      .asInstanceOf[graft.blockers.MinHashLSHBlocker].tokenizer.isDefined)
    assert(Experiment.blockerFor(base.copy(blocker = "tfidf-token"))
      .asInstanceOf[graft.blockers.TfIdfFilteredTokenBlocker].tokenizer.isDefined)
    assert(Experiment.blockerFor(base.copy(blocker = "partitioning-token"))
      .asInstanceOf[graft.blockers.PartitioningTokenBlocker].tokenizer.isDefined)
    assert(Experiment.blockerFor(base.copy(blocker = "mllib-minhash"))
      .asInstanceOf[graft.blockers.MlLibMinHashBlocker].tokenizer.isDefined)
    assert(Experiment.blockerFor(base.copy(blocker = "token-cluster"))
      .asInstanceOf[graft.blockers.TokenClusteringTokenBlocker].tokenizer.isDefined)
    assert(Experiment.blockerFor(base.copy(blocker = "token-cluster-minhash"))
      .asInstanceOf[graft.blockers.TokenClusteringMinHashLSHBlocker].tokenizer.isDefined)
    // composite forms route the seam to their inner TokenBlocker
    assert(Experiment.blockerFor(base.copy(blocker = "composite-unique-name"))
      .asInstanceOf[graft.blockers.CompositeUniqueNameBlocker]
      .attributeBlocker.asInstanceOf[graft.blockers.TokenBlocker].tokenizer.isDefined)
    assert(Experiment.blockerFor(base.copy(blocker = "relational-token"))
      .asInstanceOf[graft.blockers.SimpleRelationalBlocker]
      .inner.asInstanceOf[graft.blockers.TokenBlocker].tokenizer.isDefined)
    assert(Experiment.blockerFor(base.copy(blocker = "lightea"))
      .asInstanceOf[graft.blockers.CompositeLightEABlocker].tokenizer.isDefined)
    // blockers with no token surface reject the flag LOUDLY instead of
    // silently running regex/value boundaries (the round-13 advice)
    for (b <- Seq("standard", "qgrams", "unique-name", "embedding-knn",
        "kmeans-cluster", "attribute-cluster", "density-cluster")) {
      val e = intercept[IllegalArgumentException] {
        Experiment.blockerFor(base.copy(blocker = b))
      }
      assert(e.getMessage.contains("no effect"), s"$b: ${e.getMessage}")
    }
    // default regex stays accepted everywhere (the r13 board is regex)
    Experiment.BlockerNames.foreach { name =>
      assert(Experiment.blockerFor(base.copy(blocker = name, tokenizer = "regex")) != null)
    }
  }

  test("nltk tokenizer boundaries reach a threaded blocker's token stream") {
    import spark.implicits._
    // nltk keeps the date token whole; the regex tokenizer splits it
    val f = graft.core.EntityFrame(
      Seq(("e1", "born 11-12-1973")).toDF("id", "text"), "t", "id")
    val nltk = graft.blockers.MinHashLSHBlocker(
      tokenizer = Some(graft.functions.Text.nltkTokenize(_, 3)))
    val keys = nltk.tokens(f).select("key").as[String].collect().toSet
    assert(keys.contains("11-12-1973"), s"got $keys")
    val regex = graft.blockers.MinHashLSHBlocker()
    val rkeys = regex.tokens(f).select("key").as[String].collect().toSet
    assert(!rkeys.contains("11-12-1973") && rkeys.contains("1973"), s"got $rkeys")
  }

  test("--convert-vectors turns a .vec/.txt dump into the --word-vectors parquet") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vecconv").toString
    // fasttext .vec shape: "count dims" header, then "token v1 ... vD"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/mini.vec"),
      """6 2
        |john 1.0 0.0
        |mcexample 0.8 0.6
        |maggie 0.0 1.0
        |rebecca -0.6 0.8
        |smith -1.0 0.0
        |nushi 0.6 -0.8
        |""".stripMargin)
    val out = s"$dir/vectors.parquet"
    val json = Experiment.run(spark, Experiment.parseArgs(Array(
      "--convert-vectors", s"$dir/mini.vec", "--out", out)))
    assert(json.contains(""""tokens":6""") && json.contains(""""dims":2"""), json)
    val table = spark.read.parquet(out)
    assert(table.columns.toSeq == Seq("token", "vector"))
    val smith = table.filter(col("token") === "smith")
      .select("vector").as[Seq[Double]].head()
    assert(smith == Seq(-1.0, 0.0))
    // headerless gloVe shape converts identically
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/mini.glove.txt"),
      "john 1.0 0.0\nsmith -1.0 0.0\n")
    val json2 = Experiment.run(spark, Experiment.parseArgs(Array(
      "--convert-vectors", s"$dir/mini.glove.txt", "--out", s"$dir/g.parquet")))
    assert(json2.contains(""""tokens":2""") && json2.contains(""""dims":2"""), json2)
    // a ragged dump fails loudly, never a silently ragged table
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/bad.txt"),
      "john 1.0 0.0\nsmith -1.0\n")
    val e = intercept[IllegalArgumentException] {
      Experiment.run(spark, Experiment.parseArgs(Array(
        "--convert-vectors", s"$dir/bad.txt", "--out", s"$dir/b.parquet")))
    }
    assert(e.getMessage.contains("inconsistent"), e.getMessage)
    // non-numeric vector fields fail loudly too (never NULL elements
    // silently poisoning downstream weighted sums)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/bad2.txt"),
      "john 1.0 0.0\nsmith 0,5 0.3\n")
    val e2 = intercept[IllegalArgumentException] {
      Experiment.run(spark, Experiment.parseArgs(Array(
        "--convert-vectors", s"$dir/bad2.txt", "--out", s"$dir/b2.parquet")))
    }
    assert(e2.getMessage.contains("non-numeric"), e2.getMessage)
    // and the converted table drives TableTokenEncoder → blocks end-to-end
    val data = openEaFixture()
    val expOut = java.nio.file.Files.createTempDirectory("exp_conv").toString
    val run = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", data, "--blocker", "embedding-knn", "--out", expOut,
      "--word-vectors", out, "--dims", "2", "--k", "2")))
    assert(run.contains("\"recall\":"), run)
  }

  test("density-cluster blocker runs end-to-end through the CLI") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_dc").toString
    val json = Experiment.run(spark, Experiment.parseArgs(Array(
      "--data", data, "--blocker", "density-cluster", "--out", out,
      "--eps", "2.0", "--min-pts", "2", "--min-cluster-size", "2",
      "--dims", "2")))
    assert(json.contains("\"recall\":"), json)
  }

  test("--eps-ladder switches density-cluster to the HDBSCAN flat cut") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_hc").toString
    val base = Experiment.parseArgs(Array(
      "--data", data, "--blocker", "density-cluster", "--out", out,
      "--eps-ladder", "4.0,2.0,1.0", "--min-pts", "2",
      "--min-cluster-size", "2", "--dims", "2"))
    // knob reaches the assigner
    val assigner = Experiment.blockerFor(base)
      .asInstanceOf[graft.blockers.AttributeClusteringBlocker]
      .assigner.asInstanceOf[graft.blockers.DensityClusterAssigner]
    assert(assigner.epsLadder == Seq(4.0, 2.0, 1.0))
    // --min-cluster-size doubles as the condensed-tree shed rule
    // (HDBSCAN min_cluster_size) — it must reach the hierarchy, not
    // only the downstream label gate
    assert(assigner.hierarchyMinClusterSize == 2)
    // and the pipeline runs end-to-end in hierarchy mode
    val json = Experiment.run(spark, base)
    assert(json.contains("\"recall\":"), json)
  }

  test("--eps-ladder auto derives the ladder from the data") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_hca").toString
    val base = Experiment.parseArgs(Array(
      "--data", data, "--blocker", "density-cluster", "--out", out,
      "--eps-ladder", "auto:3", "--min-pts", "2",
      "--min-cluster-size", "2", "--dims", "2"))
    val assigner = Experiment.blockerFor(base)
      .asInstanceOf[graft.blockers.AttributeClusteringBlocker]
      .assigner.asInstanceOf[graft.blockers.DensityClusterAssigner]
    assert(assigner.autoLadderLevels == 3 && assigner.epsLadder.isEmpty)
    val json = Experiment.run(spark, base)
    assert(json.contains("\"recall\":"), json)
    // bare "auto" defaults to 5 levels; malformed forms fail loudly
    assert(Experiment.parseArgs(Array(
      "--data", data, "--blocker", "density-cluster", "--out", out,
      "--eps-ladder", "auto")).epsLadderAuto == 5)
    intercept[IllegalArgumentException] {
      Experiment.parseArgs(Array(
        "--data", data, "--blocker", "density-cluster", "--out", out,
        "--eps-ladder", "automatic"))
    }
    // too-few levels and non-numeric N fail AT PARSE, never silently
    // falling back to the single-eps algorithm or failing after load
    for (bad <- Seq("auto:1", "auto:0", "auto:-2", "auto:"))
      intercept[IllegalArgumentException] {
        Experiment.parseArgs(Array(
          "--data", data, "--blocker", "density-cluster", "--out", out,
          "--eps-ladder", bad))
      }
    // typo'd exact forms fail with the flag-naming message, not a bare
    // NumberFormatException from the numeric-list fallthrough
    for (bad <- Seq("Exact", "exact:3", "exac"))
      assert(intercept[IllegalArgumentException] {
        Experiment.parseArgs(Array(
          "--data", data, "--blocker", "density-cluster", "--out", out,
          "--eps-ladder", bad))
      }.getMessage.contains("--eps-ladder"), s"form: $bad")
  }

  test("--eps-ladder exact runs the continuous dendrogram end-to-end") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_hcx").toString
    val base = Experiment.parseArgs(Array(
      "--data", data, "--blocker", "density-cluster", "--out", out,
      "--eps-ladder", "exact", "--min-pts", "2",
      "--min-cluster-size", "2", "--dims", "2"))
    val assigner = Experiment.blockerFor(base)
      .asInstanceOf[graft.blockers.AttributeClusteringBlocker]
      .assigner.asInstanceOf[graft.blockers.DensityClusterAssigner]
    assert(assigner.exactHierarchy &&
      assigner.epsLadder.isEmpty && assigner.autoLadderLevels == 0)
    // min-cluster-size reaches the condensed tree here too
    assert(assigner.hierarchyMinClusterSize == 2)
    val json = Experiment.run(spark, base)
    assert(json.contains("\"recall\":"), json)
  }

  test("--min-cluster-size > 2 threads into the flat cut's hierarchy") {
    val data = openEaFixture()
    val out = java.nio.file.Files.createTempDirectory("exp_hc5").toString
    val base = Experiment.parseArgs(Array(
      "--data", data, "--blocker", "density-cluster", "--out", out,
      "--eps-ladder", "4.0,2.0,1.0", "--min-pts", "2",
      "--min-cluster-size", "5", "--dims", "2"))
    val assigner = Experiment.blockerFor(base)
      .asInstanceOf[graft.blockers.AttributeClusteringBlocker]
      .assigner.asInstanceOf[graft.blockers.DensityClusterAssigner]
    // a ported HDBSCAN config (min_cluster_size=5, the reference
    // default) must build the SAME hierarchy: small clusters shed per
    // level, altering stability and eom selection — the downstream
    // size gate alone cannot compensate
    assert(assigner.hierarchyMinClusterSize == 5)
    val json = Experiment.run(spark, base)
    assert(json.contains("\"recall\":"), json)
  }
}
