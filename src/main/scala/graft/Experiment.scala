package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, collect_set, count, element_at, expr, length, lit, not, size, split, sum, trim, when}

import graft.blockers._
import graft.core.{BlockingDataset, Blocks}
import graft.encoders.{CachedEncoder, FrameEncoder, HashTokenEncoder}
import graft.eval.Evaluation
import graft.similarity.Similarity

/** User-facing experiment front door — the Spark shape of the reference's
  * chained click CLI (experiment.py:481-567 `process_pipeline`: load
  * dataset → blocker.assign → write blocks → evaluate → log metrics) plus
  * its console tracker artifact (experiment.py:561-599, trackers.py).
  *
  * {{{
  * spark-submit --class graft.Experiment graft.jar \
  *   --data /path/bundle --blocker token --out /tmp/blocks \
  *   [--format parquet|csv|json|openea] [--metrics /tmp/metrics.json] \
  *   [--append-metrics /tmp/runs.jsonl] [--eval-only /tmp/blocks/blocks] \
  *   [--embeddings /tmp/emb] [--force-encode] \
  *   [--sample-mod N] [--no-clean] [--no-write] \
  *   [--hubness csls|nicdm|ls|mp|dsl] [--hubness-candidates N] \
  *   [--tokenizer regex|nltk] [--abbrev-list /path/abbrevs.txt] [--abbrev-learn] \
  *   [blocker params...]
  * }}}
  *
  * `--eval-only <blocks-dir>` re-scores previously written blocks without
  * re-blocking (later_eval.py:27-72); `--embeddings <dir>` is the S7
  * encode-once cache (blockers/embedding/blocker.py:162-239);
  * `--append-metrics <file>` appends one JSON line per run — the
  * multi-run tracker file (trackers.py).
  *
  * Every §2.9 composition is reachable by name (see [[blockerFor]]); the
  * metrics artifact is one JSON object with the reference's eval dict
  * (recall/precision/f_measure/reduction_ratio/h3r), counts, and per-phase
  * wall times (`load`, `assign`, `write`, `eval`) akin to
  * experiment.py:561-567's `time_in_s` + trackers.py timing capture.
  *
  * Scale notes: `assign` is lazy — its timer covers plan construction
  * only; the materializing work lands in `write` (blocks → parquet), the
  * same split a cluster job would see. Eval runs off the written parquet
  * (Blocks.read), not the live plan, so the blocking pipeline executes
  * exactly once end-to-end — the reference does the same round-trip
  * (experiment.py:571-575). `eval` is one Spark action
  * ([[graft.eval.Evaluation.score]]): the written blocking's candidate
  * pairs, a `--compare` blocking (which runs lazily inside it, so
  * `eval` pays for its assignment) and gold all meet in one group-by.
  */
object Experiment {

  final case class Config(
      data: String,
      blocker: String,
      out: String,
      format: String = "auto",
      metricsPath: Option[String] = None,
      appendMetrics: Option[String] = None,
      evalOnly: Option[String] = None,
      // --convert-vectors <txt>: one-shot conversion of a fasttext/gloVe
      // text dump into the (token, vector) parquet --word-vectors expects
      convertVectors: Option[String] = None,
      embeddingsDir: Option[String] = None,
      forceEncode: Boolean = false,
      compare: Option[String] = None,
      graphPair: Option[String] = None,
      sampleMod: Option[Int] = None,
      clean: Boolean = true,
      writeBlocks: Boolean = true,
      bucketed: Option[Int] = None,
      strategy: String = "brute",
      sinkhorn: Int = 0,
      // kiez hubness surface (blockbuilder.py:107-167): method + the
      // n_candidates searched before reduction keeps k
      hubness: Option[String] = None,
      hubnessCandidates: Int = 10,
      // blocker params (reference experiment.py:659-1560 option surface)
      key: String = "",
      q: Int = 3,
      minTokenLength: Int = 3,
      threshold: Double = 0.5,
      numPerm: Int = 128,
      fnWeight: Double = 0.5,
      bands: Int = 8,
      topNA: Option[Int] = None,
      topNR: Option[Int] = None,
      k: Int = 5,
      dims: Int = 8,
      depth: Int = 2,
      numClusters: Int = 10,
      buckets: Int = 16,
      minClusterSize: Int = 5,
      minOverlap: Int = 1,
      maxBlockComparisons: Long = 0L,
      // M4 production form: a (token, vector) parquet for
      // TableTokenEncoder; --sif switches either token encoder to SIF
      // weighting (the reference's SIFEmbeddingTokenizedFrameEncoder)
      wordVectors: Option[String] = None,
      sifWeighting: Boolean = false,
      // F1 tokenizer seam: regex (pinned default) | nltk (Treebank
      // word_tokenize parity for users porting klinker configs).
      // --abbrev-list <file>: one abbreviation per line ('#' comments),
      // merged into the nltk splitter's static guard — the
      // domain-corpus stand-in for Punkt's corpus-LEARNED abbreviations
      tokenizer: String = "regex",
      abbrevList: Option[String] = None,
      // --abbrev-learn: run the Kiss & Strunk criterion
      // (TextAnalysis.punktLearnAbbrevs) over both frames' concatenated
      // attribute values and merge the survivors into the same guard —
      // Punkt's corpus-LEARNED abbreviations, closing the F1 residual.
      // learnedAbbrevs is the internal result slot runFull fills.
      abbrevLearn: Boolean = false,
      learnedAbbrevs: Seq[String] = Nil,
      // DBSCAN* density clustering (density-cluster blocker): eps radius
      // + min core neighbors; --lsh-planes switches the candidate graph
      // to sign-LSH buckets (scale path). --min-pts counts OTHER points,
      // scikit/HDBSCAN min_samples counts the point itself: porting a
      // min_samples=m config means --min-pts (m-1)
      eps: Double = 0.5,
      minPts: Int = 3,
      lshPlanes: Int = 0,
      // --eps-ladder 2.0,1.0,0.3 switches density-cluster to the HDBSCAN
      // flat cut (per-branch eps by stability over the descending ladder);
      // --eps-ladder auto[:N] derives an N-level ladder (default 5) from
      // the data's mutual-reachability structure (Density.autoEpsLadder);
      // --eps-ladder exact runs the CONTINUOUS dendrogram — no ladder,
      // no discretization (Density.hdbscanExact: Borůvka MST +
      // value-set-sized driver condensed tree)
      epsLadder: Seq[Double] = Nil,
      epsLadderAuto: Int = 0,
      epsLadderExact: Boolean = false)

  /** The encoder embedding blockers use: the deterministic
    * [[HashTokenEncoder]] (M4/M5 stand-in for external model inference,
    * SURVEY.md M6/M7), wrapped in the S7 [[CachedEncoder]] when
    * `--embeddings <dir>` is given — probe the cache, load if present,
    * else encode + save (`--force-encode` overwrites). */
  def encoderFor(c: Config): FrameEncoder = {
    val base = c.wordVectors match {
      // real (token, vector) parquet → lookup-join encoder (M4's
      // production semantics); resolved against the active session —
      // encoderFor is only reached with one up (run(), blockerFor)
      case Some(p) => graft.encoders.TableTokenEncoder.fromParquet(
        org.apache.spark.sql.SparkSession.active, p, c.dims,
        sif = c.sifWeighting)
      case None => HashTokenEncoder(c.dims, sif = c.sifWeighting)
    }
    c.embeddingsDir.map(d => CachedEncoder(base, d, c.forceEncode)).getOrElse(base)
  }

  /** The F1 tokenizer seam as a CLI knob (`--tokenizer regex|nltk`,
    * `--abbrev-list <file>` for the nltk form's sentence splitter). */
  def tokenizerFor(c: Config)
      : Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
    c.tokenizer match {
      case "regex" =>
        require(c.abbrevList.isEmpty && !c.abbrevLearn,
          "--abbrev-list/--abbrev-learn only affect the nltk tokenizer's " +
            "sentence splitter; pass --tokenizer nltk (the regex tokenizer " +
            "never splits sentences)")
        None
      case "nltk" =>
        val extra = c.abbrevList.map(readAbbrevList).getOrElse(Nil) ++
          c.learnedAbbrevs
        Some(graft.functions.Text.nltkTokenize(_, c.minTokenLength,
          extraAbbrevs = extra))
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer '$other'; known: regex, nltk")
    }

  /** `--abbrev-list` file: one abbreviation per line, '#' comments and
    * blanks skipped; normalization (lowercase, trailing-'.' strip) is
    * [[org.apache.spark.sql.graft.TreebankTokenize.normalizeAbbrevs]]'s.
    * Read through the session's Hadoop FS (spark.read.textFile), so an
    * HDFS/S3A path works like a local one; the list is config-sized and
    * rides the tokenizer expression onto the executors. */
  def readAbbrevList(path: String): Seq[String] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val lines = spark.read.textFile(path).collect().toSeq
    val entries = lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
    require(entries.nonEmpty,
      s"--abbrev-list $path: no abbreviations found (blank/comment-only file)")
    entries
  }

  /** The learned list rides the tokenizer EXPRESSION to executor JVMs
    * (a codegen reference object), so it must stay config-sized; a
    * natural-language corpus learns tens-to-hundreds of types. */
  val MaxLearnedAbbrevs: Int = 10000

  /** `--abbrev-learn`: Punkt abbreviation learning
    * ([[graft.text.TextAnalysis.punktLearnAbbrevs]], the Kiss & Strunk
    * criterion) over a one-column `text` corpus; returns the classified
    * survivors for the nltk splitter's `extraAbbrevs` guard. Loud when
    * the list is not config-sized — that means the corpus is not
    * natural text and the guard would bloat every serialized plan. */
  def learnAbbrevs(corpus: org.apache.spark.sql.DataFrame): Seq[String] = {
    val survivors = graft.text.TextAnalysis.punktLearnAbbrevs(corpus)
      .filter(col("is_abbrev")).select(col("token"))
      .limit(MaxLearnedAbbrevs + 1).collect().map(_.getString(0)).toSeq
    require(survivors.size <= MaxLearnedAbbrevs,
      s"--abbrev-learn classified more than $MaxLearnedAbbrevs abbreviation " +
        "types; the corpus does not look like natural text — fall back to " +
        "an explicit --abbrev-list")
    survivors
  }

  /** Blocker registry — one name per reference CLI command
    * (experiment.py:659-1560). */
  def blockerFor(c: Config): Blocker = blockerFor(c, encoderFor(c))

  /** Blockers with no token-stream surface — value-level keys
    * (standard/qgrams/unique-name), whole-value clustering, or
    * encoder-internal tokenization ([[graft.encoders.TokenWeighting]]'s
    * pinned stream, which every embedding oracle replays). `--tokenizer
    * nltk` cannot apply; silently ignoring it would hand a user porting
    * a klinker config regex/value boundaries without warning, so
    * [[blockerFor]] rejects the combination loudly instead. */
  private val NoTokenizerSeam: Set[String] = Set(
    "standard", "qgrams", "unique-name", "embedding-knn",
    "kmeans-cluster", "attribute-cluster", "density-cluster")

  def blockerFor(c: Config, enc: FrameEncoder): Blocker = {
    if (c.tokenizer != "regex" && NoTokenizerSeam(c.blocker))
      throw new IllegalArgumentException(
        s"--tokenizer ${c.tokenizer} has no effect on blocker '${c.blocker}' " +
          "(no token-stream surface); drop the flag or pick a token-based blocker")
    val tok = tokenizerFor(c)
    c.blocker match {
    case "standard"    => StandardBlocker(c.key)
    case "qgrams"      => QgramsBlocker(c.key, c.q)
    case "token"       => TokenBlocker(c.minTokenLength,
      maxBlockComparisons = c.maxBlockComparisons, tokenizer = tok)
    case "unique-name" => UniqueNameBlocker()
    case "lsh" => MinHashLSHBlocker.fromThreshold(
      c.threshold, c.numPerm, (1.0 - c.fnWeight, c.fnWeight), c.minTokenLength,
      tokenizer = tok)
    case "mllib-minhash" => MlLibMinHashBlocker(c.threshold, c.bands,
      minTokenLength = c.minTokenLength, maxBlockComparisons = c.maxBlockComparisons,
      tokenizer = tok)
    case "tfidf-token" => TfIdfFilteredTokenBlocker(c.threshold, c.minTokenLength,
      tokenizer = tok)
    case "partitioning-token" => PartitioningTokenBlocker(
      c.minOverlap, c.minTokenLength, maxBlockComparisons = c.maxBlockComparisons,
      tokenizer = tok)
    case "relational-token" =>
      SimpleRelationalTokenBlocker(c.topNA, c.topNR, c.minTokenLength, tok)
    case "relational-lsh" => SimpleRelationalBlocker(
      MinHashLSHBlocker.fromThreshold(
        c.threshold, c.numPerm, (1.0 - c.fnWeight, c.fnWeight), c.minTokenLength,
        tokenizer = tok),
      c.topNA, c.topNR)
    // reference relational_lsh_blocker: separate attr + (neighbor-concat)
    // rel LSH passes combined (relation_aware.py:391-592)
    case "relational-dual-lsh" =>
      val inner = MinHashLSHBlocker.fromThreshold(
        c.threshold, c.numPerm, (1.0 - c.fnWeight, c.fnWeight), c.minTokenLength,
        tokenizer = tok)
      RelationalBlocker(inner, inner, c.topNA, c.topNR)
    case "composite-unique-name" => CompositeUniqueNameBlocker(
      TokenBlocker(c.minTokenLength, tokenizer = tok),
      Some(TokenBlocker(c.minTokenLength, tokenizer = tok)),
      c.topNA, c.topNR)
    case "embedding-knn" =>
      EmbeddingKnnBlocker(enc, c.k,
        sinkhornIterations = c.sinkhorn, strategy = annStrategy(c),
        hubness = c.hubness.map(Similarity.HubnessReduction.byName(_)),
        hubnessCandidates = c.hubnessCandidates)
    case "composite-embedding" => CompositeEmbeddingBlocker(
      enc, c.k, strategy = annStrategy(c),
      topNA = c.topNA, topNR = c.topNR,
      minTokenLength = c.minTokenLength,
      hubness = c.hubness.map(Similarity.HubnessReduction.byName(_)),
      hubnessCandidates = c.hubnessCandidates,
      tokenizer = tok)
    case "relational-deepblocker" => CompositeRelationalDeepBlocker(
      enc, c.k, c.topNA, c.topNR,
      minTokenLength = c.minTokenLength, tokenizer = tok)
    case "lightea" => CompositeLightEABlocker(
      enc, c.depth, c.k, c.dims,
      minTokenLength = c.minTokenLength, tokenizer = tok)
    case "kmeans-cluster" =>
      KMeansClusterBlocker(enc, c.numClusters)
    case "attribute-cluster" =>
      AttributeClusteringBlocker(HashBucketClusterAssigner(c.buckets), c.minClusterSize)
    // density variant: HDBSCAN-semantics clustering (DBSCAN* slice) on
    // the embedded distinct values. NB convention mapping for users
    // porting HDBSCAN/klinker configs: --min-pts counts OTHER points
    // (Density.dbscanStar core distance = minPts-th nearest neighbor),
    // while scikit/HDBSCAN min_samples counts the point itself — set
    // --min-pts = min_samples - 1 for the same core-point rule.
    // --min-cluster-size doubles as HDBSCAN's min_cluster_size when
    // --eps-ladder is set: the condensed-tree shed rule INSIDE the
    // hierarchy, mirroring the reference's single knob
    // (attribute_clustering.py:35-50), and the downstream label gate.
    case "density-cluster" =>
      AttributeClusteringBlocker(
        DensityClusterAssigner(enc, c.eps, c.minPts, c.lshPlanes,
          epsLadder = c.epsLadder,
          hierarchyMinClusterSize = c.minClusterSize,
          autoLadderLevels = c.epsLadderAuto,
          exactHierarchy = c.epsLadderExact),
        c.minClusterSize)
    case "token-cluster" => TokenClusteringTokenBlocker(
      HashBucketClusterAssigner(c.buckets), c.minClusterSize,
      minTokenLength = c.minTokenLength, tokenizer = tok)
    case "token-cluster-minhash" => TokenClusteringMinHashLSHBlocker(
      HashBucketClusterAssigner(c.buckets), c.minClusterSize,
      numPerm = c.numPerm, bands = c.bands, minTokenLength = c.minTokenLength,
      tokenizer = tok)
    case other => throw new IllegalArgumentException(
      s"unknown blocker '$other'; known: ${BlockerNames.mkString(", ")}")
    }
  }

  /** `--strategy brute|ivf|lsh` → the ANN scale path for embedding
    * blockers (brute = exact baseline; ivf/lsh = the bucketed forms a
    * 100 TB corpus needs). */
  private def annStrategy(c: Config): AnnStrategy = c.strategy match {
    case "brute" => AnnStrategy.Brute
    case "ivf"   => AnnStrategy.Ivf(numBuckets = math.max(2, c.numClusters))
    case "lsh"   => AnnStrategy.SignLsh()
    case other => throw new IllegalArgumentException(
      s"unknown --strategy '$other'; known: brute, ivf, lsh")
  }

  val BlockerNames: Seq[String] = Seq(
    "standard", "qgrams", "token", "unique-name", "lsh", "mllib-minhash",
    "tfidf-token", "partitioning-token", "relational-token", "relational-lsh",
    "relational-dual-lsh", "composite-unique-name", "embedding-knn",
    "composite-embedding", "relational-deepblocker", "lightea",
    "kmeans-cluster", "attribute-cluster", "density-cluster", "token-cluster",
    "token-cluster-minhash")

  def parseArgs(args: Array[String]): Config = {
    var m = Map.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --option, got '$a'")
      val name = a.drop(2)
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m += name -> args(i + 1); i += 2
      } else { flags += name; i += 1 }
    }
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing required --$k"))
    // --eval-only re-scores previously written blocks: no blocker runs and
    // nothing is written, so those two options stop being required.
    // --convert-vectors is a standalone conversion: no dataset, no blocker.
    val evalOnly = m.get("eval-only")
    val convertVectors = m.get("convert-vectors")
    val noPipeline = evalOnly.isDefined || convertVectors.isDefined
    Config(
      data = if (convertVectors.isDefined) m.getOrElse("data", "") else req("data"),
      blocker =
        if (convertVectors.isDefined) m.getOrElse("blocker", "convert-vectors")
        else if (evalOnly.isDefined) m.getOrElse("blocker", "eval-only")
        else req("blocker"),
      out = if (noPipeline && convertVectors.isEmpty) m.getOrElse("out", "") else req("out"),
      format = m.getOrElse("format", "auto"),
      metricsPath = m.get("metrics"),
      appendMetrics = m.get("append-metrics"),
      evalOnly = evalOnly,
      convertVectors = convertVectors,
      embeddingsDir = m.get("embeddings"),
      forceEncode = flags.contains("force-encode"),
      compare = m.get("compare"),
      graphPair = m.get("graph-pair"),
      sampleMod = m.get("sample-mod").map(_.toInt),
      clean = !flags.contains("no-clean"),
      writeBlocks = !flags.contains("no-write"),
      bucketed = m.get("bucketed").map(_.toInt),
      strategy = m.getOrElse("strategy", "brute"),
      sinkhorn = m.getOrElse("sinkhorn", "0").toInt,
      hubness = m.get("hubness"),
      hubnessCandidates = m.getOrElse("hubness-candidates", "10").toInt,
      key = m.getOrElse("key", ""),
      q = m.getOrElse("q", "3").toInt,
      minTokenLength = m.getOrElse("min-token-length", "3").toInt,
      threshold = m.getOrElse("threshold", "0.5").toDouble,
      numPerm = m.getOrElse("num-perm", "128").toInt,
      fnWeight = m.getOrElse("fn-weight", "0.5").toDouble,
      bands = m.getOrElse("bands", "8").toInt,
      topNA = m.get("top-n-a").map(_.toInt).filter(_ > 0),
      topNR = m.get("top-n-r").map(_.toInt).filter(_ > 0),
      k = m.getOrElse("k", "5").toInt,
      dims = m.getOrElse("dims", "8").toInt,
      depth = m.getOrElse("depth", "2").toInt,
      numClusters = m.getOrElse("num-clusters", "10").toInt,
      buckets = m.getOrElse("buckets", "16").toInt,
      minClusterSize = m.getOrElse("min-cluster-size", "5").toInt,
      minOverlap = m.getOrElse("min-overlap", "1").toInt,
      maxBlockComparisons = m.getOrElse("max-block-comparisons", "0").toLong,
      wordVectors = m.get("word-vectors"),
      sifWeighting = flags.contains("sif"),
      tokenizer = m.getOrElse("tokenizer", "regex"),
      abbrevList = m.get("abbrev-list"),
      abbrevLearn = flags.contains("abbrev-learn"),
      eps = m.getOrElse("eps", "0.5").toDouble,
      minPts = m.getOrElse("min-pts", "3").toInt,
      lshPlanes = m.getOrElse("lsh-planes", "0").toInt,
      epsLadder = m.get("eps-ladder")
        .filterNot(s => s.startsWith("auto") || s == "exact")
        .map(s => s.split(",").toSeq.map(t => t.trim.toDoubleOption.getOrElse(
          // typos ("Exact", "exact:3") must name the flag and its
          // accepted forms, not die as a bare NumberFormatException
          throw new IllegalArgumentException(
            s"--eps-ladder '$s': expected a descending list, 'auto', " +
              "'auto:N', or 'exact'"))))
        .getOrElse(Nil),
      epsLadderAuto = m.get("eps-ladder").filter(_.startsWith("auto")).map {
        case "auto" => 5
        case s if s.startsWith("auto:") =>
          val n = s.drop(5).toIntOption.getOrElse(throw new IllegalArgumentException(
            s"--eps-ladder '$s': expected a descending list, 'auto', 'auto:N', or 'exact'"))
          // fail HERE, not after data load inside the derivation (and
          // never silently fall back to the single-eps algorithm)
          require(n >= 2, s"--eps-ladder $s: an auto ladder needs at least 2 levels")
          n
        case s => throw new IllegalArgumentException(
          s"--eps-ladder '$s': expected a descending list, 'auto', 'auto:N', or 'exact'")
      }.getOrElse(0),
      epsLadderExact = m.get("eps-ladder").contains("exact"))
  }

  /** Dataset load with layout autodetection (ea_dataset.py:28-110's
    * sylloge families, probed in specificity order):
    *  - `attr_triples_1` in the dir → OpenEA TSV bundle (incl. the
    *    cluster-gold variant);
    *  - `attr_triples_left.parquet` → sylloge normalized parquet cache
    *    (the OAEI-KG-track on-disk shape);
    *  - `source.{nt,rdf,xml,owl}` → raw OAEI pair directory (RDF dumps +
    *    Alignment-format reference links, parsed natively by
    *    [[graft.sources.Rdf.loadOaei]] — no Python pre-pass);
    *  - `--graph-pair` given, or a `[data/]<pair>/attr_triples_1`
    *    subfolder → MovieGraphBenchmark repository layout;
    *  - otherwise a `left.<fmt>`/`right.<fmt>` bundle.
    * `--format openea|sylloge|oaei|moviegraph` forces a branch. */
  def loadDataset(spark: SparkSession, c: Config): BlockingDataset = {
    // Hadoop-FS resolution (not java.io.File): the format sniff must
    // work wherever the readers do — a dataset dir on HDFS/S3A sniffs
    // and loads identically to a local one.
    def exists(p: String) = graft.sources.Rdf.pathExists(spark, p)
    def soleMoviePair: Option[String] = {
      def pairsIn(d: String) = graft.sources.Rdf.subDirs(spark, d)
        .filter(n => exists(s"$d/$n/attr_triples_1"))
      val direct = pairsIn(c.data)
      val nested = pairsIn(s"${c.data}/data")
      (direct ++ nested).distinct match { case Seq(one) => Some(one); case _ => None }
    }
    def oaeiRaw: Boolean = Seq("nt", "rdf", "xml", "owl")
      .exists(e => exists(s"${c.data}/source.$e"))
    val fmt =
      if (c.format != "auto") c.format
      else if (exists(s"${c.data}/attr_triples_1")) "openea"
      else if (exists(s"${c.data}/attr_triples_left.parquet")) "sylloge"
      else if (oaeiRaw) "oaei"
      else if (c.graphPair.isDefined || soleMoviePair.isDefined) "moviegraph"
      else "parquet"
    val ds = fmt match {
      case "openea" => BlockingDataset.loadOpenEA(spark, c.data, clean = c.clean)
      case "sylloge" => BlockingDataset.loadSylloge(spark, c.data, clean = c.clean)
      case "oaei" => graft.sources.Rdf.loadOaei(spark, c.data, clean = c.clean)
      case "moviegraph" => BlockingDataset.loadMovieGraph(spark, c.data,
        c.graphPair.orElse(soleMoviePair).getOrElse("imdb-tmdb"), clean = c.clean)
      case other => BlockingDataset.load(spark, c.data, other)
    }
    c.sampleMod.map(ds.sample(_)).getOrElse(ds)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The eval fragment of the metrics JSON, shared verbatim by the full
    * pipeline and `--eval-only` so the two paths cannot drift. */
  private def evalJson(c: Config, persisted: Blocks,
      dataset: BlockingDataset, leftLen: Long, rightLen: Long): String =
    dataset.gold match {
      case Some(g) =>
        // optional comparison, scored in the same action as this run's
        // blocking: one name → A10 pairwise Dice of TP sets
        // (eval.py:329-331); several comma-separated names → the N-way
        // report (eval.py:457-521 multiple_block_comparison as the
        // per-blocker report form): this run's blocking plus each named
        // blocker, metrics + dice-vs-best + joined-h3r improvement.
        def assign(name: String) = blockerFor(c.copy(blocker = name)).assign(
          dataset.left, dataset.right, dataset.leftRel, dataset.rightRel)
        val (r, dice) = c.compare.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq) match {
          case Some(Seq(name)) =>
            val s = Evaluation.score(Seq(persisted), Seq(assign(name)), g)
            (s.eval(0, leftLen, rightLen),
              s""","compare_blocker":${Harness.jsonString(name)},"dice_tp":${fmtD(s.dice(0, 1))}""")
          case Some(names) if names.size > 1 =>
            // primary blocking first; disambiguate a compare name that
            // collides with it (or with an earlier duplicate)
            val seen = scala.collection.mutable.Set(c.blocker)
            val labeled = (c.blocker -> persisted) +: names.map { n =>
              var label = n; var i = 1
              while (seen(label)) { i += 1; label = s"${n}_$i" }
              seen += label; label -> assign(n)
            }
            val s = Evaluation.score(labeled.map(_._2), Nil, g)
            val report = Evaluation.scoredReport(
              dataset.left.df.sparkSession, labeled.map(_._1), s, leftLen, rightLen)
            val rows = report.collect().map { r =>
              s"""{"blocker":${renderJsonScalar(r.getString(0))},""" +
                s""""is_best":${r.getBoolean(1)},"tp":${r.getLong(2)},"pairs":${r.getLong(3)},""" +
                s""""recall":${fmtD(r.getDouble(4))},"precision":${fmtD(r.getDouble(5))},""" +
                s""""f_measure":${fmtD(r.getDouble(6))},"reduction_ratio":${fmtD(r.getDouble(7))},""" +
                s""""h3r":${fmtD(r.getDouble(8))},"dice_vs_best":${fmtD(r.getDouble(9))},""" +
                s""""improvement_h3r":${fmtD(r.getDouble(10))}}"""
            }
            (s.eval(0, leftLen, rightLen), s""","comparison":${rows.mkString("[", ",", "]")}""")
          case _ => (Evaluation.evaluate(persisted, g, leftLen, rightLen), "")
        }
        val metrics = r.toMap.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":${fmtD(v)}""" }.mkString(",")
        s""""tp":${r.truePositive},"fp":${r.falsePositive},"fn":${r.falseNegative},""" +
          s""""pairs":${r.compWithBlocking},"comp_without_blocking":${r.compWithoutBlocking},$metrics$dice"""
      case None => s""""pairs":${persisted.distinctPairs.count()}"""
    }

  /** Write the metrics JSON to its sinks: `--metrics` (overwrite, one
    * run) and `--append-metrics` (one JSON LINE per run appended — the
    * reference's multi-run tracker file, trackers.py:1-240, so
    * experiment sweeps are comparable offline). */
  private def emit(c: Config, json: String): String = {
    c.metricsPath.foreach(Harness.writeArtifact(_, json))
    c.appendMetrics.foreach { p =>
      val f = new java.io.File(p)
      Option(f.getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.write(f.toPath, (json + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    json
  }

  /** JSON of every Config field (run provenance for the append-metrics
    * tracker: two sweep lines differing only in a parameter stay
    * distinguishable without re-deriving it from the output). */
  def configJson(c: Config): String =
    c.productElementNames.zip(c.productIterator).map { case (n, v) =>
      val r = v match {
        case None => "null"
        case Some(x) => renderJsonScalar(x)
        case x => renderJsonScalar(x)
      }
      s""""$n":$r"""
    }.mkString("{", ",", "}")

  private def renderJsonScalar(x: Any): String = x match {
    case s: String => Harness.jsonString(s)
    case d: Double => fmtD(d)
    case xs: Seq[_] => xs.map(renderJsonScalar).mkString("[", ",", "]")
    case other => other.toString // Int/Long/Boolean
  }

  /** `--eval-only <blocks-dir>`: re-score previously written blocks
    * against the dataset's gold without re-running any blocker — the
    * reference's later_eval.py:27-72 re-evaluation flow. Layout
    * dispatch (plain / NN / composite) comes from [[Blocks.read]]. */
  def runEvalOnly(spark: SparkSession, c: Config, blocksDir: String): String = {
    val (ds, tLoad) = timed {
      val d = loadDataset(spark, c)
      (d, d.left.ids.distinct().count(), d.right.ids.distinct().count())
    }
    val (dataset, leftLen, rightLen) = ds
    val (blocks, tRead) = timed(Blocks.read(spark, blocksDir))
    val (evalPart, tEval) = timed(evalJson(c, blocks, dataset, leftLen, rightLen))
    val total = tLoad + tRead + tEval
    emit(c,
      s"""{"blocker":"eval-only","data":${Harness.jsonString(c.data)},""" +
        s""""blocks":${Harness.jsonString(blocksDir)},""" +
        s""""left_len":$leftLen,"right_len":$rightLen,$evalPart,""" +
        s""""total_time_in_s":${fmtD(total)},""" +
        s""""phase_times":{"load":${fmtD(tLoad)},"read":${fmtD(tRead)},""" +
        s""""eval":${fmtD(tEval)}},"config":${configJson(c)}}""")
  }

  /** `--convert-vectors <txt> --out <parquet>`: distributed one-shot
    * conversion of a published word-vector text dump (fasttext `.vec`
    * with its "count dims" header, or headerless gloVe `.txt`: one
    * `token v1 … vD` line each) into the `(token, vector)` parquet
    * [[TableTokenEncoder.fromParquet]] / `--word-vectors` expects — the
    * hand-conversion step a klinker user porting pretrained.py configs
    * otherwise writes themselves. Parsing is a plain distributed line
    * map (the loadNTriples pattern): split on whitespace, head = token,
    * tail = doubles; the header is recognized ROW-LOCALLY as a 2-field
    * all-numeric line (a real 1-dim token row would collide — published
    * dumps are ≥ 25-dim). Inconsistent dimensionalities fail loudly
    * (one bounded distinct-dims probe), never a silently ragged table. */
  def runConvertVectors(spark: SparkSession, c: Config, txt: String): String = {
    val parsed = spark.read.text(txt)
      .filter(length(trim(col("value"))) > 0)
      .select(split(trim(col("value")), "\\s+").as("_p"))
      .select(element_at(col("_p"), 1).as("token"),
        // try_cast, not cast: deterministic NULL for malformed fields
        // under BOTH ANSI modes, converted into ONE friendly loud
        // failure by the non-numeric check below (ANSI cast would throw
        // a cryptic per-row error; non-ANSI cast would silently NULL)
        expr("transform(slice(_p, 2, size(_p) - 1), x -> try_cast(x AS double))")
          .as("vector"))
      .filter(not(size(col("vector")) === 1 && col("token").rlike("^-?[0-9]+$")))
    val (json0, secs) = timed {
      // single parse pass: write first, validate against the WRITTEN
      // parquet (one cheap columnar scan: count + distinct widths +
      // non-numeric fields). A malformed dump fails LOUDLY after the
      // write — the exception is the contract; the rejected parquet is
      // left for inspection, never silently served.
      parsed.write.mode("overwrite").parquet(c.out)
      val v = spark.read.parquet(c.out)
        .agg(count(lit(1)).as("n"),
          collect_set(size(col("vector"))).as("widths"),
          sum(when(expr("exists(vector, x -> x IS NULL)"), 1L).otherwise(0L))
            .as("bad"))
        .head()
      val widths = v.getSeq[Int](1).sorted
      require(widths.length == 1,
        s"inconsistent vector widths in $txt: ${widths.mkString(",")} — malformed dump")
      require(v.getLong(2) == 0L,
        s"${v.getLong(2)} lines in $txt carry non-numeric vector fields — malformed dump")
      s"""{"blocker":"convert-vectors","in":${renderJsonScalar(txt)},""" +
        s""""out":${renderJsonScalar(c.out)},""" +
        s""""tokens":${v.getLong(0)},"dims":${widths.head}"""
    }
    emit(c, s"""$json0,"total_time_in_s":${fmtD(secs)},"config":${configJson(c)}}""")
  }

  /** Run one experiment; returns the metrics JSON string (also written to
    * `c.metricsPath` when set). Phases mirror experiment.py:545-575. */
  def run(spark: SparkSession, c: Config): String = (c.convertVectors, c.evalOnly) match {
    case (Some(txt), _) => runConvertVectors(spark, c, txt)
    case (_, Some(blocksDir)) => runEvalOnly(spark, c, blocksDir)
    case _ => runFull(spark, c)
  }

  private def runFull(spark: SparkSession, c: Config): String = {
    val (ds, tLoad) = timed {
      val d = loadDataset(spark, c)
      // count both sides here so the load phase (not eval) pays the scan;
      // the counts are reused in the eval denominator
      (d, d.left.ids.distinct().count(), d.right.ids.distinct().count())
    }
    val (dataset, leftLen, rightLen) = ds

    // built once so the S7 cache decorator's encode timer survives to the
    // metrics below (blockerFor would otherwise build a fresh one)
    val encoder = encoderFor(c)
    val (blocks, tAssign) = timed {
      // --abbrev-learn: the learning scan is blocker preparation, so it
      // is charged to the assign phase. Validate the tokenizer pairing
      // BEFORE the scan — tokenizerFor would reject --tokenizer regex
      // anyway, but only after a full corpus aggregation whose result is
      // guaranteed to be discarded.
      require(!c.abbrevLearn || c.tokenizer == "nltk",
        "--abbrev-list/--abbrev-learn only affect the nltk tokenizer's " +
          "sentence splitter; pass --tokenizer nltk (the regex tokenizer " +
          "never splits sentences)")
      val cEff =
        if (!c.abbrevLearn) c
        else c.copy(learnedAbbrevs = learnAbbrevs(
          dataset.left.concatValues().select(
            col(graft.core.EntityFrame.ConcCol).as("text"))
            .unionByName(dataset.right.concatValues().select(
              col(graft.core.EntityFrame.ConcCol).as("text")))))
      blockerFor(cEff, encoder).assign(
        dataset.left, dataset.right, dataset.leftRel, dataset.rightRel)
    }

    val (persisted, tWrite) = timed {
      (c.writeBlocks, c.bucketed) match {
        case (true, Some(n)) =>
          // bucketed+sorted on block_key: every downstream block-key join
          // (combine, eval, reuse across jobs) reads co-located with no
          // Exchange — the S4 scale path, exposed through the CLI
          val tbl = "graft_blocks_" + math.abs(c.out.hashCode).toString
          blocks.writeBucketed(spark, tbl, s"${c.out}/blocks", n)
          Blocks.readBucketed(spark, tbl)
        case (true, None) =>
          blocks.write(s"${c.out}/blocks",
            dataset.left.tableName, dataset.right.tableName)
          // round-trip through the sink like the reference (experiment.py:571)
          Blocks.read(spark, s"${c.out}/blocks")
        case _ => blocks.df.persist(); blocks.df.count(); blocks
      }
    }

    val (evalPart, tEval) = timed(evalJson(c, persisted, dataset, leftLen, rightLen))
    if (!c.writeBlocks) persisted.df.unpersist()

    // S7 cache observability: encode wall time (≈0 on a cache hit — the
    // hit is a lazy parquet read) and how many sides were re-encoded.
    val encodePart = encoder match {
      case ce: CachedEncoder =>
        s""""encode":${fmtD(ce.secondsSpent)},"encode_misses":${ce.misses.get()},"""
      case _ => ""
    }
    val total = tLoad + tAssign + tWrite + tEval
    val json =
      s"""{"blocker":${Harness.jsonString(c.blocker)},"data":${Harness.jsonString(c.data)},""" +
        s""""out":${Harness.jsonString(c.out)},""" +
        s""""left_len":$leftLen,"right_len":$rightLen,$evalPart,""" +
        s""""time_in_s":${fmtD(tAssign + tWrite)},"total_time_in_s":${fmtD(total)},""" +
        s""""phase_times":{$encodePart"load":${fmtD(tLoad)},"assign":${fmtD(tAssign)},""" +
        s""""write":${fmtD(tWrite)},"eval":${fmtD(tEval)}},"config":${configJson(c)}}"""
    emit(c, json)
  }

  private def fmtD(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else Harness.fixed(d, 6)

  private val Usage: String =
    s"""usage: graft.Experiment --data <dir> --blocker <name> --out <dir>
       |  [--format auto|parquet|csv|json|openea|sylloge|oaei|moviegraph]
       |  [--graph-pair <name>] [--metrics <file>]
       |  [--append-metrics <file>] [--eval-only <blocks-dir>]
       |  [--convert-vectors <vec-or-glove-txt>] (writes (token, vector) parquet to --out)
       |  [--word-vectors <parquet>] [--sif] [--tokenizer regex|nltk]
       |  [--abbrev-list <file>] [--abbrev-learn]
       |  [--eps X | --eps-ladder X1,X2,...|auto[:N]|exact] [--min-pts N] [--lsh-planes N]
       |  [--embeddings <dir>] [--force-encode]
       |  [--compare <name[,name,...]>] [--sample-mod N] [--no-clean] [--no-write]
       |  [--bucketed N] [--strategy brute|ivf|lsh] [--sinkhorn N]
       |  [--key <col>] [--q N] [--min-token-length N] [--threshold X]
       |  [--num-perm N] [--fn-weight X] [--bands N] [--top-n-a N]
       |  [--top-n-r N] [--k N] [--dims N] [--depth N] [--num-clusters N]
       |  [--buckets N] [--min-cluster-size N] [--min-overlap N]
       |  [--max-block-comparisons N]
       |blockers: ${BlockerNames.mkString(", ")}""".stripMargin

  def main(args: Array[String]): Unit = {
    val c =
      try parseArgs(args)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); System.err.println(Usage); sys.exit(2)
      }
    val spark = Harness.session(s"graft-experiment-${c.blocker}")
    try println(run(spark, c))
    finally spark.stop()
  }
}
