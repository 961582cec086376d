package graft

import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingCuration.CanonState
import graft.streaming.StreamingOps._

/** Pins the encoder schema of every state type given to
  * `flatMapGroupsWithState` in `graft.streaming`. A changed state type
  * makes existing checkpoints unreadable, and Spark only notices at
  * restart; this makes the change fail the build instead. An intended
  * change updates `streaming_state_schemas.tsv` (one
  * `name<TAB>schema json` line per type) and the README's streaming
  * checkpoint compatibility list together. */
class StateSchemaSpec extends AnyFunSuite {

  private val schemas: Seq[(String, String)] = Seq(
    "CompactState" -> Encoders.product[CompactState],
    "TokenState" -> Encoders.product[TokenState],
    "TimedTokenState" -> Encoders.product[TimedTokenState],
    "DedupState" -> Encoders.product[DedupState],
    "TimedDedupState" -> Encoders.product[TimedDedupState],
    "BucketState" -> Encoders.product[BucketState],
    "TimedBucketState" -> Encoders.product[TimedBucketState],
    "RateState" -> Encoders.product[RateState],
    "TimedRateState" -> Encoders.product[TimedRateState],
    "AsofState" -> Encoders.product[AsofState],
    "FunnelState" -> Encoders.product[FunnelState],
    "RetentionState" -> Encoders.product[RetentionState],
    "MarkovState" -> Encoders.product[MarkovState],
    "CanonState" -> Encoders.product[CanonState],
  ).map { case (name, enc) => name -> enc.schema.json }

  private lazy val golden: Seq[(String, String)] = {
    val src = scala.io.Source.fromResource("streaming_state_schemas.tsv", getClass.getClassLoader)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, json) = l.split("\t", 2)
      name -> json
    }.toSeq
    finally src.close()
  }

  test("every streaming state schema equals its golden line") {
    assert(golden.map(_._1) == schemas.map(_._1))
    schemas.zip(golden).foreach { case ((name, json), (_, pinned)) =>
      assert(json == pinned, s"$name changed: update the golden file and the README list")
    }
  }

  test("the golden file names every state type given to flatMapGroupsWithState") {
    val dir = new java.io.File("src/main/scala/graft/streaming")
    val used = dir.listFiles().filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try """flatMapGroupsWithState\[(\w+)""".r
        .findAllMatchIn(src.mkString).map(_.group(1)).toList
      finally src.close()
    }.toSet
    // AnnServing's streaming top-k declares `Int` and never stores state
    assert(used - "Int" == golden.map(_._1).toSet)
  }
}
