package graft

import graft.blockers._
import graft.core.{Blocks, EntityFrame}

/** Golden-block tests on the reference's conftest fixtures
  * (reference tests/test_blockers.py:67-144). TokenBlocker goldens are
  * recomputed for our pinned regex tokenizer (SURVEY.md F1: NLTK-Punkt
  * parity is out of contract — dates split into number tokens, min
  * length 3 then applies to the parts). */
class BlockerSpec extends SparkSpec {

  test("StandardBlocker golden (test_blockers.py:67-73)") {
    val got = StandardBlocker("BirthCountry").assign(tableA, tableB)
    assertBlocksEqual(got, Map(
      "Bulgaria" -> (Set("a3"), Set("b3")),
      "USA" -> (Set("a1", "a2"), Set("b2"))))
  }

  test("StandardBlocker on triple frames matches wide result") {
    val got = StandardBlocker("BirthCountry")
      .assign(EntityFrame.unpivot(tableA), EntityFrame.unpivot(tableB))
    assertBlocksEqual(got, Map(
      "Bulgaria" -> (Set("a3"), Set("b3")),
      "USA" -> (Set("a1", "a2"), Set("b2"))))
  }

  test("QgramsBlocker golden (test_blockers.py:76-91)") {
    val got = QgramsBlocker("BirthCountry", 3).assign(tableA, tableB)
    assertBlocksEqual(got, Map(
      "USA" -> (Set("a1", "a2"), Set("b2")),
      "Bul" -> (Set("a3"), Set("b3")),
      "ulg" -> (Set("a3"), Set("b3")),
      "lga" -> (Set("a3"), Set("b3")),
      "gar" -> (Set("a3"), Set("b3")),
      "ari" -> (Set("a3"), Set("b3")),
      "ria" -> (Set("a3"), Set("b3")),
      "Ind" -> (Set("a4"), Set("b4"))))
  }

  test("TokenBlocker golden (regex-tokenizer semantics)") {
    val got = TokenBlocker().assign(tableA, tableB)
    assertBlocksEqual(got, Map(
      "john" -> (Set("a1"), Set("b1")),
      "mcexample" -> (Set("a1"), Set("b1")),
      "1973" -> (Set("a1"), Set("b1")),
      "maggie" -> (Set("a2"), Set("b2")),
      "smith" -> (Set("a2", "a3"), Set("b2", "b3")),
      "1983" -> (Set("a2"), Set("b2")),
      "usa" -> (Set("a1", "a2"), Set("b2")),
      "rebecca" -> (Set("a3"), Set("b3")),
      "1990" -> (Set("a3", "a4"), Set("b3", "b4")),
      "bulgaria" -> (Set("a3"), Set("b3")),
      "nushi" -> (Set("a4"), Set("b5"))))
  }

  test("TokenBlocker triple input matches wide input") {
    val wide = blockMap(TokenBlocker().assign(tableA, tableB))
    val trip = blockMap(TokenBlocker()
      .assign(EntityFrame.unpivot(tableA), EntityFrame.unpivot(tableB)))
    assert(trip == wide)
  }

  test("TokenBlocker maxBlockComparisons drops only oversized blocks") {
    val full = blockMap(TokenBlocker().assign(tableA, tableB))
    val capped = blockMap(TokenBlocker(maxBlockComparisons = 2)
      .assign(tableA, tableB))
    val oversize = full.filter { case (_, (l, r)) => l.size.toLong * r.size > 2 }
    assert(capped == full -- oversize.keys)
    assert(oversize.keySet == Set("smith", "1990"))
  }

  test("UniqueNameBlocker golden (token_blocking.py:168-204 semantics)") {
    val got = UniqueNameBlocker().assign(tableA, tableB)
    assertBlocksEqual(got, Map(
      "11-12-1973" -> (Set("a1"), Set("b1")),
      "02-02-1983" -> (Set("a2"), Set("b2")),
      "Bulgaria" -> (Set("a3"), Set("b3"))))
  }

  test("blocker output round-trips parquet (test_blockers.py:132-135)") {
    val got = TokenBlocker().assign(tableA, tableB)
    val dir = java.nio.file.Files.createTempDirectory("blocks").toString + "/b"
    got.write(dir, "A", "B")
    val back = Blocks.read(spark, dir)
    assert(blockMap(back) == blockMap(got))
  }

  test("PartitioningTokenBlocker: one NN block per left entity, overlap-thresholded") {
    val got = blockMap(PartitioningTokenBlocker(minOverlap = 2).assign(tableA, tableB))
    // a1/b1 share john+mcexample+1973 (3 tokens); a3/b3 share 4 tokens;
    // a2/b2 share maggie+smith+1983+usa
    assert(got("a1")._2 == Set("b1"))
    assert(got("a3")._2.contains("b3"))
    assert(got("a2")._2.contains("b2"))
    // single-token overlaps (e.g. a4/b4 share only 1990) are excluded
    assert(!got.get("a4").exists(_._2.contains("b4")))
  }

  test("PartitioningTokenBlocker switches join strategy on the size knob") {
    // threshold 0 forces the shuffle path; a huge threshold forces the
    // broadcast path — identical results, different physical joins
    val small = PartitioningTokenBlocker(minOverlap = 2, broadcastThresholdRows = 0L)
    val big = PartitioningTokenBlocker(minOverlap = 2)
    assert(blockMap(small.assign(tableA, tableB)) == blockMap(big.assign(tableA, tableB)))

    // with auto-broadcast off, ONLY the explicit hint of the
    // under-threshold path may produce a broadcast join — the
    // over-threshold path must shuffle on the token key
    def tokens(f: graft.core.EntityFrame, idAs: String) =
      TokenBlocker().tokens(f).withColumnRenamed("id", idAs)
    def planOf(b: PartitioningTokenBlocker) =
      b.overlapPairs(tokens(tableA, "id"), tokens(tableB, "rid"),
          sealOutput = false) // lazy: the sealed form checkpoints the plan away
        .queryExecution.executedPlan.toString
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      assert(planOf(big).contains("BroadcastHashJoin"), "small right side must broadcast")
      assert(!planOf(small).contains("BroadcastHashJoin"), "over-threshold right side must shuffle")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("PartitioningTokenBlocker shuffle path applies the hot-token cap") {
    // token "john" appears on both sides; cap of 0 comparisons with
    // maxBlockComparisons=1 removes any token with nl*nr > 1
    val capped = PartitioningTokenBlocker(
      minOverlap = 1, broadcastThresholdRows = 0L, maxBlockComparisons = 1L)
    val uncapped = PartitioningTokenBlocker(minOverlap = 1, broadcastThresholdRows = 0L)
    val cm = blockMap(capped.assign(tableA, tableB))
    val um = blockMap(uncapped.assign(tableA, tableB))
    // capping can only shrink candidate sets
    assert(cm.keySet.subsetOf(um.keySet))
    assert(cm.forall { case (k, (_, rs)) => rs.subsetOf(um(k)._2) })
  }

  test("Blocker.dropHotKeys drops a hot key from both sides; cap <= 0 is a no-op") {
    import spark.implicits._
    // key h: 3 left x 2 right = 6 pairs; key c: 1 x 1
    val l = Seq(("a1", "h"), ("a2", "h"), ("a3", "h"), ("a1", "c")).toDF("id", "key")
    val r = Seq(("b1", "h"), ("b2", "h"), ("b1", "c")).toDF("id", "key")
    for (cap <- Seq(0L, -1L)) {
      val (l0, r0) = Blocker.dropHotKeys(l, r, "key", cap)
      assert((l0 eq l) && (r0 eq r), s"cap $cap must hand back the inputs")
    }
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("key").distinct().as[String].collect().toSet
    val (l5, r5) = Blocker.dropHotKeys(l, r, "key", 5L)
    assert(keys(l5) == Set("c") && keys(r5) == Set("c"))
    val (l6, r6) = Blocker.dropHotKeys(l, r, "key", 6L) // nl * nr = 6 is within
    assert(keys(l6) == Set("h", "c") && keys(r6) == Set("h", "c"))
  }

  test("BlockingDataset.fromParquet round-trips a bundle") {
    import graft.core.BlockingDataset
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ds").toString
    tableA.df.write.parquet(s"$dir/left.parquet")
    tableB.df.write.parquet(s"$dir/right.parquet")
    (1 to 3).map(i => (s"a$i", s"b$i")).toSeq.toDF("A", "B")
      .write.parquet(s"$dir/gold.parquet")
    val ds = BlockingDataset.fromParquet(spark, dir)
    assert(ds.left.df.count() == 5 && ds.right.df.count() == 5)
    assert(ds.gold.get.count() == 3)
    assert(ds.leftRel.isEmpty)
  }

  test("BlockingDataset.load reads csv and json bundles") {
    import graft.core.BlockingDataset
    import spark.implicits._
    for (fmt <- Seq("csv", "json")) {
      val dir = java.nio.file.Files.createTempDirectory(s"ds_$fmt").toString
      tableA.df.write.format(fmt).option("header", "true").save(s"$dir/left.$fmt")
      tableB.df.write.format(fmt).option("header", "true").save(s"$dir/right.$fmt")
      (1 to 3).map(i => (s"a$i", s"b$i")).toSeq.toDF("A", "B")
        .write.format(fmt).option("header", "true").save(s"$dir/gold.$fmt")
      val ds = BlockingDataset.load(spark, dir, fmt)
      assert(ds.left.df.count() == 5 && ds.right.df.count() == 5, fmt)
      // json infers fields alphabetically — compare as sets
      assert(ds.left.df.columns.toSet == tableA.df.columns.toSet, fmt)
      assert(ds.gold.get.count() == 3 && ds.leftRel.isEmpty, fmt)
    }
  }

  test("saltedCollectIds equals direct collect_set") {
    import org.apache.spark.sql.functions._
    val keyed = tableA.df.select(col("id"), col("BirthCountry").as("key"))
    val direct = Blocker.blockJoin(keyed, keyed).df
      .select(col(graft.core.Blocks.KeyCol), col(graft.core.Blocks.LeftCol))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    val salted = Blocker.saltedCollectIds(keyed, graft.core.Blocks.LeftCol, 4)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(salted == direct)
  }
}
