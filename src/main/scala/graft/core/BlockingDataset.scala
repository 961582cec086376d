package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.sources.Rdf

/** The full input bundle of a blocking task (reference
  * src/klinker/data/ea_dataset.py:18-110): left/right attribute frames,
  * optional relation-triple frames, optional gold standard. */
object BlockingDataset {
  import org.apache.spark.sql.SparkSession

  /** S1: load a dataset bundle from a directory of data files
    * (`left.<ext>`, `right.<ext>`, optional `left_rel.<ext>`,
    * `right_rel.<ext>`, `gold.<ext>`) — the Spark shape of the
    * reference's sylloge loader (ea_dataset.py:28-110), for any
    * DataSource format. Parquet is the scale path (columnar, predicate
    * pushdown, splittable); CSV (header + schema inference by default —
    * how sylloge benchmark dumps ship) and JSON-lines ride the same
    * DataSourceV2 machinery, so partitioned reads and column pruning
    * where the format allows come free. Triple-form is detected by the
    * 3-column (head, rel, tail) convention. */
  def load(
      spark: SparkSession, dir: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      leftName: String = "left", rightName: String = "right",
      idCol: String = "id"): BlockingDataset = {
    val defaults = format match {
      case "csv" => Map("header" -> "true", "inferSchema" -> "true")
      case _     => Map.empty[String, String]
    }
    def read(name: String): DataFrame =
      spark.read.format(format).options(defaults ++ options)
        .load(s"$dir/$name.$format")
    def opt(name: String): Option[DataFrame] =
      try Some(read(name)) catch { case _: Throwable => None }
    def frame(name: String, tableName: String): EntityFrame = {
      val df = read(name)
      val triple = df.columns.length == 3 && df.columns(0) == "head"
      EntityFrame(df, tableName, if (triple) "head" else idCol, triple)
    }
    BlockingDataset(
      frame("left", leftName), frame("right", rightName),
      opt("left_rel"), opt("right_rel"), opt("gold"))
  }

  /** S1, parquet shorthand (the original entry point). */
  def fromParquet(
      spark: SparkSession, dir: String,
      leftName: String = "left", rightName: String = "right",
      idCol: String = "id"): BlockingDataset =
    load(spark, dir, "parquet", Map.empty, leftName, rightName, idCol)

  /** Loader for the OpenEA/sylloge on-disk benchmark layout (reference
    * ea_dataset.py:28-110 via sylloge; the published OpenEA dumps ship as
    * headerless TSV in one folder):
    *
    * {{{
    *   <dir>/attr_triples_1   head \t rel \t tail   (left attributes)
    *   <dir>/attr_triples_2                          (right attributes)
    *   <dir>/rel_triples_1    head \t rel \t tail   (left relations)
    *   <dir>/rel_triples_2                           (right relations)
    *   <dir>/ent_links        left_uri \t right_uri (gold standard)
    * }}}
    *
    * `clean=true` applies the S2 datatype strip to attribute tails
    * (`"42"^^xsd:int` → `"42"`, ea_dataset.py:88-91). Attribute frames
    * come back in triple form with `head` as the id column, exactly how
    * the reference hands them to blockers.
    *
    * Scale note: TSV is the interchange shape, not the compute shape —
    * the explicit schema skips inference (no extra pass), quoting is
    * disabled (RDF literals contain raw quotes), and the files split on
    * newlines so a 1000-executor read parallelizes like any text source.
    * For repeated runs, write the bundle back to parquet once and use
    * [[fromParquet]].
    */
  def loadOpenEA(
      spark: SparkSession, dir: String,
      clean: Boolean = true,
      leftName: String = "left", rightName: String = "right"): BlockingDataset = {
    def tsv(name: String, cols: Seq[String]): DataFrame =
      spark.read
        .option("sep", "\t").option("header", "false")
        .option("quote", "\u0000") // RDF literals carry raw quotes — never quote-parse
        .schema(cols.map(c => s"$c STRING").mkString(", "))
        .csv(s"$dir/$name")
    def attr(name: String, tableName: String): EntityFrame = {
      val raw = tsv(name, Seq("head", "rel", "tail"))
      val df = if (clean) raw.withColumn("tail", Text.stripDatatype(col("tail"))) else raw
      EntityFrame(df, tableName, "head", isTriple = true)
    }
    def optTsv(name: String, cols: Seq[String]): Option[DataFrame] =
      if (Rdf.pathExists(spark, s"$dir/$name")) Some(tsv(name, cols)) else None
    // gold: ent_links TSV when present; else an eche-style cluster dump
    // (ent_clusters: one line per cluster, tab-separated prefixed ids)
    // expanded to all inter-dataset pairs — ea_dataset.py:93-103's
    // PrefixedClusterHelper.all_pairs_no_intra path (the
    // MovieGraphBenchmark multi-source gold shape).
    val gold = optTsv("ent_links", Seq(leftName, rightName)).orElse {
      if (Rdf.pathExists(spark, s"$dir/ent_clusters"))
        Some(goldFromClusterFile(spark, s"$dir/ent_clusters", leftName, rightName))
      else None
    }
    BlockingDataset(
      attr("attr_triples_1", leftName), attr("attr_triples_2", rightName),
      optTsv("rel_triples_1", Seq("head", "rel", "tail")),
      optTsv("rel_triples_2", Seq("head", "rel", "tail")),
      gold)
  }

  /** Expand an eche PrefixedClusterHelper text dump (one cluster per
    * line, members tab-separated, each id carrying its dataset prefix
    * like `imdb:123`) into the (left, right) gold-pair table. Dataset
    * membership is the id's prefix up to the first ':'; only
    * inter-dataset pairs are emitted (`all_pairs_no_intra`). Distributed
    * end-to-end: text lines split + exploded, cluster key is a hash of
    * the line (clusters are set-unique lines), pairing via
    * [[Gold.fromClusters]]' cluster self-join. */
  def goldFromClusterFile(
      spark: SparkSession, path: String,
      leftPrefix: String, rightPrefix: String): DataFrame = {
    val members = spark.read.text(path)
      .select(xxhash64(col("value")).as("cluster"),
        explode(split(col("value"), "\t")).as("entity"))
      .filter(length(trim(col("entity"))) > 0)
      .select(col("cluster"), trim(col("entity")).as("entity"),
        substring_index(col("entity"), ":", 1).as("dataset"))
    // Fail loudly when the requested prefixes match nothing: a cluster
    // dump with ids like `imdb:123` loaded under the default
    // left/right names would otherwise expand to an EMPTY gold table
    // and every metric downstream silently reports 0. The distinct
    // prefix set is tiny (one per source dataset), so the check is one
    // cheap action at load time.
    val present = members.select("dataset").distinct()
      .collect().map(_.getString(0)).sorted
    val missing = Seq(leftPrefix, rightPrefix).filterNot(present.contains)
    require(missing.isEmpty,
      s"cluster file $path has no members with dataset prefix " +
        s"${missing.mkString("'", "', '", "'")}; prefixes present: " +
        s"${present.mkString("'", "', '", "'")} — pass matching " +
        "leftName/rightName (ids are prefixed `dataset:id`)")
    Gold.fromClusters(members, leftPrefix, rightPrefix)
      .toDF(leftPrefix, rightPrefix)
  }

  /** Loader for the MovieGraphBenchmark repository layout
    * (ea_dataset.py:28-110 via sylloge's MovieGraphBenchmark; the
    * published ScaDS dump): per graph pair one folder of OpenEA-style
    * TSVs, conventionally under `data/`:
    *
    * {{{
    *   <root>/[data/]<pair>/attr_triples_1 …rel_triples_2, ent_links
    * }}}
    *
    * where `<pair>` is e.g. `imdb-tmdb`; table names come from splitting
    * the pair on '-'. Everything else (cleaning, cluster gold, schema)
    * is [[loadOpenEA]]. */
  def loadMovieGraph(
      spark: SparkSession, root: String, graphPair: String = "imdb-tmdb",
      clean: Boolean = true): BlockingDataset = {
    val dir = Seq(s"$root/$graphPair", s"$root/data/$graphPair", root)
      .find(d => Rdf.pathExists(spark, s"$d/attr_triples_1"))
      .getOrElse(throw new IllegalArgumentException(
        s"no MovieGraphBenchmark pair '$graphPair' under $root"))
    val names = graphPair.split("-", 2)
    val (l, r) = if (names.length == 2) (names(0), names(1)) else ("left", "right")
    loadOpenEA(spark, dir, clean, l, r)
  }

  /** Loader for the sylloge normalized cache layout — how sylloge
    * materializes ANY of its benchmark families (OpenEA, OAEI KG track,
    * MovieGraphBenchmark) after parsing, and therefore the shape an
    * OAEI dataset reaches disk in once cached (for the RAW OAEI
    * interchange — RDF dumps + Alignment-format reference links — use
    * [[graft.sources.Rdf.loadOaei]], which parses them natively):
    *
    * {{{
    *   <dir>/attr_triples_left.parquet    head | relation | tail
    *   <dir>/attr_triples_right.parquet
    *   <dir>/rel_triples_left.parquet     head | relation | tail
    *   <dir>/rel_triples_right.parquet
    *   <dir>/ent_links.parquet            left | right
    * }}}
    *
    * The middle column arrives as `relation` and is normalized to `rel`
    * (this engine's triple convention). `clean` applies the S2 datatype
    * strip to attribute tails. */
  def loadSylloge(
      spark: SparkSession, dir: String,
      clean: Boolean = true,
      leftName: String = "left", rightName: String = "right"): BlockingDataset = {
    def read(name: String): DataFrame = {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      val Array(h, rl, t) = df.columns.take(3)
      df.select(col(h).cast("string").as("head"), col(rl).cast("string").as("rel"),
        col(t).cast("string").as("tail"))
    }
    def attr(name: String, tableName: String): EntityFrame = {
      val raw = read(name)
      val df = if (clean) raw.withColumn("tail", Text.stripDatatype(col("tail"))) else raw
      EntityFrame(df, tableName, "head", isTriple = true)
    }
    def opt(name: String)(f: String => DataFrame): Option[DataFrame] =
      if (Rdf.pathExists(spark, s"$dir/$name.parquet")) Some(f(name)) else None
    BlockingDataset(
      attr("attr_triples_left", leftName), attr("attr_triples_right", rightName),
      opt("rel_triples_left")(read), opt("rel_triples_right")(read),
      opt("ent_links") { n =>
        val g = spark.read.parquet(s"$dir/$n.parquet")
        val Array(l, r) = g.columns.take(2)
        g.select(col(l).cast("string").as(leftName), col(r).cast("string").as(rightName))
      })
  }
}

final case class BlockingDataset(
    left: EntityFrame,
    right: EntityFrame,
    leftRel: Option[DataFrame] = None,
    rightRel: Option[DataFrame] = None,
    gold: Option[DataFrame] = None) {

  /** P5: deterministic downsample (reference ea_dataset.py:112-166, with
    * md5-mod selection instead of a random frac so results are
    * reproducible and oracle-checkable): keep every gold pair whose left
    * id hashes into `1/mod` of the space, then restrict all frames to
    * the sampled entities via semi-joins. */
  def sample(mod: Int, salt: String = "s"): BlockingDataset = {
    require(gold.isDefined, "sampling needs a gold standard")
    val Array(gl, gr) = gold.get.columns.take(2)
    val g = gold.get.filter(
      Text.md5Long(concat(lit(salt), col(gl).cast("string"))) % mod === 0)
    val lIds = g.select(col(gl).cast("string").as("_id")).distinct()
    val rIds = g.select(col(gr).cast("string").as("_id")).distinct()

    // no broadcast hint on the id lists: they scale with |gold|/mod —
    // AQE broadcasts while small, shuffles when not
    def restrict(f: EntityFrame, ids: DataFrame): EntityFrame =
      f.copy(df = f.df.join(ids,
        f.df(f.idCol).cast("string") === ids("_id"), "left_semi"))

    def restrictRel(rel: DataFrame, ids: DataFrame): DataFrame = {
      val Array(h, _, t) = rel.columns.take(3)
      rel.join(ids, rel(h).cast("string") === ids("_id"), "left_semi")
    }

    BlockingDataset(
      restrict(left, lIds), restrict(right, rIds),
      leftRel.map(restrictRel(_, lIds)), rightRel.map(restrictRel(_, rIds)),
      Some(g))
  }
}
