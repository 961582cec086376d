package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.CacheScope
import graft.functions.{MinHash, SimHash, Text}

/** Document deduplication for large-scale corpus pipelines — the
  * engine's training-data charter (generalizes the reference's blocking
  * machinery, SURVEY.md M1/J10, to the single-corpus self-join case).
  *
  * Every operator is candidate-generation (cheap, hash-bucketed) followed
  * by exact verification (only on candidates) — the shape that survives
  * 100 TB: no O(n²) stage ever materializes.
  */
object Dedup {

  /** Exact duplicates under a canonical key: md5 of the sorted distinct
    * token set — catches reorderings/repetitions that raw-text hashing
    * misses. One groupBy; output (dup_key, ids: sorted array, n ≥ 2). */
  def exactDuplicates(tokenPairs: DataFrame): DataFrame = {
    val canon = tokenPairs
      .groupBy("id")
      .agg(md5(concat_ws(" ", array_sort(collect_set(col("key"))))).as("dup_key"))
    canon.groupBy("dup_key")
      .agg(array_sort(collect_set(col("id"))).as("ids"), countDistinct("id").as("n"))
      .filter(col("n") >= 2)
  }

  /** Group-level overlap estimation from mergeable sketches — "how much
    * does source A's vocabulary overlap source B's?" without ever
    * joining token sets: the MinHash of a UNION is the element-wise min
    * of the members' hashes, so a whole group collapses to one
    * numPerm-long signature via an ordinary min-aggregate (map-side
    * combined, treeAggregate-shaped — each 100 TB source reduces to 16
    * longs), and the pairwise estimate is then arithmetic over
    * group-count² tiny rows. This is the sketch-algebra report a corpus
    * owner reads before mixing sources (complements tx_corpus_profile's
    * per-source absolutes).
    *
    * Input: (id = group key, key = token). Output: (grp_a, grp_b,
    * est_jaccard_e6) for grp_a < grp_b — est = matching-min fraction,
    * exact integer micro-units (k/numPerm · 1e6 with numPerm | 1e6),
    * so the DuckDB oracle hash-matches bit-for-bit. */
  def sketchOverlap(groupTokens: DataFrame, numPerm: Int = 16): DataFrame = {
    require(1000000 % numPerm == 0, "numPerm must divide 1e6 for exact micro-units")
    // localCheckpoint: both cross sides read the signature, and the
    // renamed subtrees defeat exchange reuse — without it the CORPUS
    // scan+aggregate runs twice. The checkpointed table is group-count
    // rows (tiny); the corpus is touched exactly once.
    val sig = MinHash.signature(groupTokens, numPerm).localCheckpoint()
    val a = sig.toDF(sig.columns.map(c => if (c == "id") "grp_a" else s"${c}_a"): _*)
    val b = sig.toDF(sig.columns.map(c => if (c == "id") "grp_b" else s"${c}_b"): _*)
    val matches = (0 until numPerm)
      .map(i => when(col(s"h${i}_a") === col(s"h${i}_b"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.crossJoin(b).filter(col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"),
        (matches * (1000000L / numPerm)).as("est_jaccard_e6"))
  }

  /** Exact refresh dedup with a Bloom prefilter: which documents of a
    * NEW batch already exist — identical canonical token-set key, as in
    * [[exactDuplicates]] — in a corpus? Output `(id, dup_key,
    * in_corpus)` for EVERY new doc. The result is EXACT; the bloom only
    * prunes work, never decides membership.
    *
    * 100 TB shape: the corpus is never shuffled. Pass 1 treeAggregates
    * corpus keys into a Bloom filter (`df.stat.bloomFilter`, ~1.2 MB
    * per million keys at fpp 1%) that rides the plan as a constant;
    * the new batch probes it map-side (codegen'd
    * [[org.apache.spark.sql.graft.BloomMightContain]]) and definite
    * negatives — the overwhelming majority of a genuinely-fresh crawl —
    * exit without touching any join. Pass 2 verifies only the
    * bloom-positive survivors (true dups + ~fpp of the rest) with an
    * exact join against the distinct corpus keys; survivors are
    * delta-sized, so AQE broadcasts them and the corpus side joins
    * map-side with no shuffle either. In a production refresh loop the
    * corpus key table is computed once at ingest and stored (it is the
    * [[exactDuplicates]] canonical key); recomputing it here from raw
    * tokens keeps the operator self-contained for oracle parity.
    *
    * A re-submitted id counts as corpus content: unchanged re-crawls
    * dedup away (in_corpus=true), changed ones keep their new content.
    * Version supersession of the corpus row is the caller's concern. */
  def bloomRefreshDedup(corpusToks: DataFrame, newToks: DataFrame,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    def keys(t: DataFrame) = t.groupBy("id")
      .agg(md5(concat_ws(" ", array_sort(collect_set(col("key"))))).as("dup_key"))
    val corpusKeys = keys(corpusToks)
    // Empty corpus: nothing can be a duplicate. Also dodges a Spark
    // defect — stat.bloomFilter over zero rows yields a filter whose
    // bit buffer is null and whose probe NPEs executor-side. The extra
    // action is free relative to the stat.bloomFilter action below.
    if (corpusKeys.isEmpty)
      return keys(newToks)
        .select(col("id"), col("dup_key"), lit(false).as("in_corpus"))
    val bloomBytes = org.apache.spark.sql.graft.BloomOps.serialize(
      corpusKeys.stat.bloomFilter("dup_key", expectedItems, fpp))
    val probed = keys(newToks).withColumn("_maybe",
      org.apache.spark.sql.graft.BloomOps.mightContain(bloomBytes, col("dup_key")))
    val confirmed = probed.filter(col("_maybe"))
      .join(corpusKeys.select("dup_key").distinct().withColumn("_in", lit(true)),
        Seq("dup_key"), "left")
      .select(col("id"), col("dup_key"),
        coalesce(col("_in"), lit(false)).as("in_corpus"))
    probed.filter(!col("_maybe"))
      .select(col("id"), col("dup_key"), lit(false).as("in_corpus"))
      .unionByName(confirmed)
  }

  /** Exact pairwise Jaccard of two id's distinct token sets, evaluated
    * only for the given candidate pairs.
    *
    * The token table is semi-join-pruned to candidate ids FIRST, then
    * collapsed to one token-set array per id; the pair verification is a
    * codegen'd `array_intersect`/`array_union` over two joined arrays.
    * The whole verification therefore costs one full scan of the token
    * table (the semi join — AQE broadcasts the candidate-id set when it
    * is small, the usual case) plus work proportional to
    * tokens-of-candidates, NOT a corpus-wide `(id, key)` shuffle: on an
    * LSH-clean corpus candidates are output-sized, and at scale the
    * token shuffle is what would dominate. The array form assumes one
    * document's distinct token set fits in executor memory — true for
    * any bounded-length corpus document.
    *
    * `|∩| / (|A| + |B| − |∩|)` and `|∩| / |A∪B|` are the same integer
    * ratio, so results are bit-identical to the size-join formulation. */
  private def verifyJaccard(
      tokenPairs: DataFrame, candidates: DataFrame): DataFrame = {
    val candIds = candidates.select(col("id_a").as("id"))
      .unionByName(candidates.select(col("id_b").as("id"))).distinct()
    val sets = tokenPairs.join(candIds, Seq("id"), "left_semi")
      .groupBy("id").agg(collect_set(col("key")).as("toks"))
    candidates
      .join(sets.select(col("id").as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("toks").as("toks_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("toks_a"), col("toks_b"))).cast("double")
          / size(array_union(col("toks_a"), col("toks_b")))).as("jaccard"))
  }

  /** Hot-key admission cap for candidate-generating self-joins — the
    * batch form of the streaming variant's per-bucket admission cap
    * ([[graft.streaming.StreamingOps.streamMinHashNearDup]]) and of the
    * token blocker's `maxBlockComparisons` anti-filter. A degenerate
    * band bucket (or boilerplate shingle) shared by B documents emits
    * B² candidate rows BEFORE any filter can run — the classic skewed
    * self-join scale-killer at 100 TB. With `maxKeySize > 0`, keys whose
    * row count exceeds the cap are anti-filtered out before the join:
    * the hot-key list is tiny (only offenders), so the anti join is a
    * broadcast against the corpus scan — no extra shuffle of the big
    * side beyond the one count aggregation.
    *
    * Dropping a key only removes CANDIDATES, never corrupts survivors:
    * for LSH the verify step is exact, so every emitted pair's jaccard
    * is unchanged and capped output ⊆ uncapped output with the
    * difference confined to pairs whose every shared bucket was hot.
    * Default 0 = off (bit-identical output, proven in DedupSpec). */
  private def capHotKeys(rows: DataFrame, maxKeySize: Int): DataFrame =
    if (maxKeySize <= 0) rows
    else {
      val hot = rows.groupBy("key").agg(count(lit(1)).as("_n"))
        .filter(col("_n") > maxKeySize).select("key")
      rows.join(hot, Seq("key"), "left_anti")
    }

  /** Signature-estimated Jaccard prefilter over candidate pairs: keeps
    * pairs whose fraction of matching minhashes is ≥ `minEst`. The
    * signatures are already computed, so the cost is numPerm equality
    * checks per candidate — see [[minHashNearDupPairs]]'s scaladoc for
    * how to choose `minEst`. No-op (and no extra joins) at ≤ 0. */
  private def estimatePrefilter(
      candidates: DataFrame, sig: DataFrame, numPerm: Int,
      minEst: Double): DataFrame =
    if (minEst <= 0.0) candidates
    else {
      val sigA = sig.toDF(sig.columns.map(c => if (c == "id") "id_a" else s"${c}_a"): _*)
      val sigB = sig.toDF(sig.columns.map(c => if (c == "id") "id_b" else s"${c}_b"): _*)
      val est = (0 until numPerm)
        .map(i => when(col(s"h${i}_a") === col(s"h${i}_b"), 1).otherwise(0))
        .reduce(_ + _).cast("double") / numPerm
      candidates.join(sigA, Seq("id_a")).join(sigB, Seq("id_b"))
        .filter(est >= minEst)
        .select("id_a", "id_b")
    }

  /** MinHash-LSH near-duplicate pairs: band-bucket collisions generate
    * candidates, a signature-estimated Jaccard (fraction of matching
    * minhashes) prefilters them CHEAPLY — signatures are already
    * computed, the estimate is numPerm equality checks per pair — and
    * only the survivors pay the exact token-join verification. Pairs
    * are canonical (id_a < id_b).
    *
    * Choosing `estPrefilter`: every band-collision candidate already has
    * ≥ r = numPerm/bands matching hashes, so the estimate floor is
    * 1/bands — values at or below that are a no-op. For a candidate with
    * true Jaccard j the conditional expectation is
    * E[est | band hit] ≈ (r + (numPerm − r)·j)/numPerm; useful settings
    * sit strictly between 1/bands and that expression evaluated at
    * j = threshold. The prefilter then cuts the single-lucky-band
    * false-positive tail (est stuck near the floor) while keeping, in
    * expectation, every pair at or above the threshold. It trades a
    * probabilistically bounded miss of a borderline true pair for a
    * verify join bounded by estimate quality rather than band luck — on
    * a clean corpus it drops nothing (see DedupSpec's equality test). */
  def minHashNearDupPairs(
      tokenPairs: DataFrame, numPerm: Int, bands: Int,
      threshold: Double, estPrefilter: Double = 0.0,
      maxBucketSize: Int = 0): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    // The token table feeds the signature AND the verify step, and the
    // candidate pair list is referenced three times downstream (id prune +
    // both verify join sides) — persist both so each pipeline stage runs
    // exactly once. Without these, Spark's static exchange reuse does NOT
    // collapse the duplicated subtrees (measured +15-70% query latency at
    // sf0.1 depending on variant). Both are bounded: the token table is
    // the operator's input, the pair list is output-sized.
    val toks = tokenPairs.persist()
    // The signature is referenced by BOTH bucket self-join sides (and
    // twice more by the prefilter when enabled) under renamed columns —
    // non-identical subtrees, not collapsed by exchange reuse — so
    // without a persist the per-doc min-hash aggregation runs 2-4×.
    // One tiny row per doc: persist unconditionally.
    val sig = MinHash.signature(toks, numPerm).persist()
    val buckets = capHotKeys(
      MinHash.bandBuckets(sig, bands, numPerm / bands), maxBucketSize)
    val candidates = estimatePrefilter(
      buckets.withColumnRenamed("id", "id_a")
        .join(buckets.withColumnRenamed("id", "id_b"), Seq("key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct(),
      sig, numPerm, estPrefilter)
    // The verify step references `candidates` three times (the id prune +
    // both sides of the intersection join); persist the pair list — it is
    // output-sized, i.e. tiny relative to the corpus — so the candidate
    // pipeline (bucket self-join + signature prefilter) runs once, not
    // per reference.
    val cand = candidates.persist()
    // Eagerly materialize the (output-sized) verified pairs, then release
    // every persisted intermediate NOW — otherwise corpus-sized cached
    // frames accumulate in a shared session until ContextCleaner notices.
    // Same total work: the verify join runs exactly once either way.
    CacheScope.seal(
      verifyJaccard(toks, cand).filter(col("jaccard") >= threshold),
      cand, sig, toks)
  }

  /** Duplicate-cluster size histogram — the dedup-effectiveness report:
    * (cluster_size, n_clusters) over the component labels of the pair
    * graph, with the singleton count derived from one corpus-size
    * subtraction (corpus docs absent from every pair are their own
    * cluster). Aggregations only — the corpus is counted, never joined.
    */
  def clusterHistogram(corpusIds: DataFrame, pairs: DataFrame): DataFrame = {
    // components' output is already a materialized checkpoint: it feeds
    // both aggregates below without a second cache
    val labels = components(pairs)
    val clusterSizes = labels.groupBy("component")
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val singles = corpusIds.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("n_dup"))))
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("n_dup")).as("n_clusters"))
    CacheScope.seal(
      clusterSizes.unionByName(singles)
        .groupBy("cluster_size")
        .agg(sum(col("n_clusters")).as("n_clusters")),
      labels)
  }

  /** Directed containment pairs — the asymmetric sibling of
    * [[minHashNearDupPairs]]: containment(a→b) = |A∩B| / |A| (Broder
    * 1997's resemblance vs containment distinction). High containment
    * with low Jaccard is the "document a is a fragment of document b"
    * signal — quote farms, boilerplate wrappers, partial re-crawls —
    * which symmetric near-dup misses when the host document is much
    * larger. Candidates come from the SAME band-bucket LSH as near-dup
    * (a contained doc shares its minima with the host at rate ≥ its
    * containment, so banding still recalls high-containment pairs);
    * verification computes the exact ratio in BOTH directions from one
    * intersection pass. Emits directed (id_from, id_to, containment)
    * rows with containment ≥ threshold: id_from is the (potentially)
    * contained side.
    *
    * Same scale posture as near-dup: bucketed candidates with the hot-
    * bucket cap, exact verify over candidate ids only, one corpus token
    * scan. */
  def minHashContainmentPairs(
      tokenPairs: DataFrame, numPerm: Int, bands: Int,
      threshold: Double, maxBucketSize: Int = 0): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val toks = tokenPairs.persist()
    // persist: both bucket self-join sides re-derive the signature
    // otherwise (see [[minHashNearDupPairs]]); one row per doc
    val sig = MinHash.signature(toks, numPerm).persist()
    val buckets = capHotKeys(
      MinHash.bandBuckets(sig, bands, numPerm / bands), maxBucketSize)
    val cand = buckets.withColumnRenamed("id", "id_a")
      .join(buckets.withColumnRenamed("id", "id_b"), Seq("key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().persist()
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val sets = toks.join(candIds, Seq("id"), "left_semi")
      .groupBy("id").agg(collect_set(col("key")).as("t"))
    val directed = cand
      .join(sets.select(col("id").as("id_a"), col("t").as("ta")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("t").as("tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("double").as("i"),
        size(col("ta")).cast("double").as("sa"),
        size(col("tb")).cast("double").as("sb"))
      // both directions from the one intersection pass (exact integer
      // ratios — the ≥-threshold filter is engine-deterministic)
      .select(explode(array(
        struct(col("id_a").as("id_from"), col("id_b").as("id_to"),
          (col("i") / col("sa")).as("containment")),
        struct(col("id_b").as("id_from"), col("id_a").as("id_to"),
          (col("i") / col("sb")).as("containment")))).as("d"))
      .select(col("d.id_from").as("id_from"), col("d.id_to").as("id_to"),
        col("d.containment").as("containment"))
      .filter(col("containment") >= threshold)
    CacheScope.seal(directed, cand, sig, toks)
  }

  /** Incremental near-dup: MinHash-LSH pairs of a NEW document batch
    * against an existing corpus (plus within the batch itself), never
    * generating corpus×corpus candidates — the refresh shape of a
    * training-data pipeline, where the corpus is enormous and the
    * delta is small. Band buckets are built over the union, but the
    * pair join keeps only (corpus, new) and canonical (new, new)
    * collisions, so candidate volume is bounded by the NEW side's
    * collisions: the corpus contributes only rows that collide with a
    * new document. Verification then scans tokens of candidate ids
    * only (see [[verifyJaccard]]) — corpus-sized state is touched once
    * (signature build), shuffled never. Output: (id_a, id_b, jaccard)
    * with id_b always from the new batch; id_a may be either side.
    *
    * At 100 TB the corpus signature table (numPerm longs per doc) is
    * the thing to precompute and store — [[minHashNearDupAgainstSig]]
    * IS that production form; this raw-token overload derives the
    * corpus signature in-flight and delegates (bit-identical output,
    * spec-proven). */
  def minHashNearDupAgainst(
      corpusToks: DataFrame, newToks: DataFrame, numPerm: Int, bands: Int,
      threshold: Double, estPrefilter: Double = 0.0,
      maxBucketSize: Int = 0): DataFrame = {
    // Raw-token form: the corpus token pipeline is the caller's (possibly
    // expensive) expression, referenced by both the signature build and
    // the verify scan — persist it ONCE so tokenization runs once (the
    // sig-form has no such cache because its corpus signature is already
    // a stored table). The sig-form's output is sealed (eager), so the
    // cache can go as soon as it returns.
    val corpus = corpusToks.select(col("id"), col("key")).persist()
    try minHashNearDupAgainstSig(MinHash.signature(corpus, numPerm), corpus,
      newToks, numPerm, bands, threshold, estPrefilter, maxBucketSize)
    finally CacheScope.release(corpus)
  }

  /** The production refresh form of [[minHashNearDupAgainst]]: the
    * corpus enters as its STORED signature table (`corpusSig` —
    * numPerm longs per doc, computed once at ingest and kept as a
    * parquet table) plus its raw token form (`corpusToks`, scanned
    * only to verify candidates). Nothing corpus-sized is ever cached:
    * the signature table is signature-width, and the verify step
    * semi-joins the corpus token scan down to candidate ids before
    * aggregating ([[verifyJaccard]]).
    *
    * A re-crawl refresh realistically re-submits ids that already
    * exist in the corpus. The NEW batch's version supersedes: corpus
    * rows (signature and token) whose id reappears in the batch are
    * anti-joined away against the batch id list. The batch token table
    * is DELTA-sized — persist it (it feeds the id list, its own
    * signature, and the verify scan); its id list is explicitly
    * broadcast into both anti-joins (at 100 TB "AQE usually broadcasts"
    * is not a plan guarantee). */
  def minHashNearDupAgainstSig(
      corpusSig: DataFrame, corpusToks: DataFrame, newToks: DataFrame,
      numPerm: Int, bands: Int, threshold: Double,
      estPrefilter: Double = 0.0, maxBucketSize: Int = 0): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val newT = newToks.select(col("id"), col("key")).persist()
    val newIds = newT.select("id").distinct()
    // persist unconditionally: both bucket self-join sides re-derive the
    // union signature otherwise (see [[minHashNearDupPairs]])
    val sig = corpusSig.join(broadcast(newIds), Seq("id"), "left_anti")
      .unionByName(MinHash.signature(newT, numPerm))
      .persist()
    // cap measured over the UNION (corpus + new rows in the bucket): a
    // boilerplate bucket is hot because of its total population, not of
    // either side alone. The delta side is tagged via the broadcast batch
    // id list, and only (corpus → new) plus canonical (new, new)
    // collisions become candidates.
    val buckets = capHotKeys(
        MinHash.bandBuckets(sig, bands, numPerm / bands), maxBucketSize)
      .join(broadcast(newIds.withColumn("_new", lit(true))), Seq("id"), "left")
      .withColumn("_new", coalesce(col("_new"), lit(false)))
    val cand = estimatePrefilter(
      buckets
        .select(col("key"), col("id").as("id_a"), col("_new").as("_new_a"))
        .join(buckets.filter(col("_new"))
          .select(col("key"), col("id").as("id_b")), Seq("key"))
        // corpus→new always; new→new canonically once
        .filter((!col("_new_a") && col("id_a") =!= col("id_b")) ||
                (col("_new_a") && col("id_a") < col("id_b")))
        .select("id_a", "id_b").distinct(),
      sig, numPerm, estPrefilter).persist()
    // verify over the superseded-corrected token union; verifyJaccard
    // semi-joins it down to candidate ids before any aggregation, so the
    // corpus token scan shuffles candidate rows only
    val toks = corpusToks.join(broadcast(newIds), Seq("id"), "left_anti")
      .select(col("id"), col("key"))
      .unionByName(newT)
    // Materialize then release — see [[minHashNearDupPairs]].
    CacheScope.seal(
      verifyJaccard(toks, cand).filter(col("jaccard") >= threshold),
      cand, sig, newT)
  }

  /** N-gram (shingle) Jaccard near-dups: candidates share ≥ 1 shingle.
    * Sound (no misses above threshold > 0, unlike LSH) but candidate
    * volume is bounded only by shingle selectivity — shingles are
    * n-token strings, so collisions are already rare.
    *
    * Single-pass: the inverted-index pass that discovers a candidate
    * pair IS its intersection count (doc-set collapse, see inline), so
    * no separate verification join runs. Keys carried by a single
    * document drop out for free (a one-doc set has no pairs).
    *
    * `maxDocFreq > 0` is the hot-key guard (see [[capHotKeys]]): shingles
    * shared by more than `maxDocFreq` documents — boilerplate headers,
    * license blocks — are dropped BEFORE the self-join, so a shingle in B
    * documents can no longer emit B² join rows. Because this operator's
    * join doubles as the intersection count, capping is a bounded
    * under-count, not just candidate pruning: set sizes stay exact (they
    * come from the uncapped table), intersections lose only capped
    * shingles, so every surviving pair's jaccard is ≤ its uncapped value
    * and capped pairs ⊆ uncapped pairs, the difference confined to pairs
    * sharing a capped shingle. Default 0 = off (bit-identical, proven in
    * DedupSpec).
    *
    * Memory contract of the uncapped path: with `maxDocFreq = 0` each
    * shingle's ENTIRE document set is one `collect_set` aggregation row
    * and then one grouping key — the chunked enumeration sheds the
    * C(n,2) pair explosion into tasks, but the per-key array itself is
    * not shed, so a boilerplate shingle shared by B documents is a
    * single B-element buffer on one task. `uncappedSetLimit` converts
    * that from a silent executor OOM / intractable-enumeration grind
    * into a loud in-plan error naming the lever: any uncapped set
    * larger than the limit (default 2^20 ids ≈ 5.5e11 candidate pairs
    * — past any tractable exact run) raises with instructions to set
    * `maxDocFreq`. At corpus scale `maxDocFreq` is the designed
    * operating mode; the limit only polices the default. */
  def ngramJaccardPairs(
      shinglePairs: DataFrame, threshold: Double, maxDocFreq: Int = 0,
      uncappedSetLimit: Int = 1 << 20): DataFrame = {
    val sizes = shinglePairs.groupBy("id").agg(countDistinct("key").as("sz"))
    val joinable = capHotKeys(shinglePairs, maxDocFreq)
    // Pair discovery by DOC-SET COLLAPSE, not a raw key self-join. The
    // round-16 ×100 curve rows spilled 6.3 GB, localized (round 17) to
    // THIS stage: the self-join + countDistinct form shuffles every
    // (id_a, id_b, key) match row through the distinct-agg's first
    // exchange — family²×shingles rows (~790 M on the ×100 corpus; the
    // closure rounds and the downstream histogram/argmax aggs spill 0).
    // Near-dup families share MOST of their shingles, so thousands of
    // keys carry the IDENTICAL document set; intersection(a, b) =
    // Σ over distinct doc sets S ∋ {a,b} of (keys carrying S). So:
    // per key the (cap-bounded) sorted doc set — collect_set also
    // absorbs duplicate (id, key) input rows, the old countDistinct
    // guard — then collapse identical sets with a multiplicity, emit
    // each set's C(n,2) ordered pairs via CHUNKED enumeration (the
    // Blocks.pairs shape: slice the sorted array into PairChunk-sized
    // pieces, spread the light chunk-pair rows round-robin, THEN
    // explode ≤ chunk² structs per row — an uncapped hot doc set sheds
    // into tasks instead of materializing C(n,2) structs in one row),
    // and shuffle only weighted pair partials. Sorted array + ordered
    // chunks ⇒ id_a < id_b by construction. Measured at ×100 (same
    // corpus, cap 256): this stage's spill 4.7 → 2.0 GB and wall
    // 120 → 38 s, identical output (DedupSpec + the six consuming
    // oracle rows + the PropertySpec brute-force pin); the remaining
    // spill is the weighted pair aggregation over the corpus's 42.7 M
    // distinct candidate pairs — output-side volume, shed across
    // tasks (BASELINE.md's round-17 curve paragraph). Worst case (all
    // doc sets distinct) emits the same C(c,2) pairs per key the join
    // did, minus the join's double-order rows and the distinct-agg's
    // extra exchange.
    val keySetsRaw = joinable.groupBy("key")
      .agg(array_sort(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    // The guard lives INSIDE the ids value chain (not a free-standing
    // assert column) so column pruning cannot drop it; a capped run
    // needs no guard — capHotKeys already bounds every set by maxDocFreq.
    val keySets =
      if (maxDocFreq > 0) keySetsRaw
      else keySetsRaw.select(
        when(size(col("ids")) <= uncappedSetLimit, col("ids"))
          .otherwise(raise_error(concat(
            lit("ngramJaccardPairs: shingle "), col("key"),
            lit(s" is shared by more than $uncappedSetLimit documents with no" +
              " maxDocFreq cap; its C(n,2) pair enumeration is intractable and" +
              " its doc-set array is a single-task buffer. Set maxDocFreq to" +
              " drop boilerplate shingles (bounded under-count, see scaladoc)" +
              " or raise uncappedSetLimit explicitly."))))
          .as("ids"))
    val c = graft.core.Blocks.PairChunk
    val chunksExpr = expr(
      s"transform(sequence(0, (size(ids)-1) div $c), i -> slice(ids, i*$c+1, $c))")
    val inter = keySets.groupBy("ids").agg(count(lit(1)).as("m"))
      .select(col("m"), chunksExpr.as("_cs"))
      .select(col("m"), col("_cs"), posexplode(col("_cs")).as(Seq("_i", "_ca")))
      .select(col("m"), col("_i"), col("_ca"),
        posexplode(col("_cs")).as(Seq("_j", "_cb")))
      .filter(col("_j") >= col("_i"))
      .repartition(shinglePairs.sparkSession.sparkContext.defaultParallelism)
      .select(col("m"), explode(when(col("_i") === col("_j"),
          // within-chunk combinations: each element with its successors
          flatten(transform(col("_ca"), (a, p) =>
            transform(slice(col("_ca"), p + 2, size(col("_ca"))), b =>
              struct(a.as("id_a"), b.as("id_b"))))))
        .otherwise(
          // cross-chunk product: every _ca element < every _cb element
          flatten(transform(col("_ca"), a =>
            transform(col("_cb"), b =>
              struct(a.as("id_a"), b.as("id_b"))))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(sum("m").as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Empirical recall gate for the MinHash-LSH near-dup path — the
    * dedup analog of the ANN recall gate
    * ([[graft.similarity.Similarity.ivfRecallCurve]]): at corpus scale the
    * true duplicate-pair set is unknowable, so measure it on a
    * deterministic hash-mod document sample (content-addressed via
    * [[Text.md5Long]], so re-runs and engines agree on the sample)
    * where exact Jaccard IS computable, and report what the production
    * banding catches there.
    *
    * Ground truth on the sample is the inverted-index join
    * ([[ngramJaccardPairs]]): every pair with Jaccard ≥ `threshold` > 0
    * shares at least one shingle, so the index is complete and nothing
    * here is cartesian. Candidates come from the production
    * signature/band path ([[graft.functions.MinHash]]) over the same
    * sample. One row out:
    *
    *   - `n_docs`, `n_true_pairs`, `n_candidates`, `n_caught`;
    *   - `recall` — caught/true (1.0 when the sample holds no true
    *     pair: vacuously green, widen the sample);
    *   - `expected_recall` — the S-curve prediction averaged over the
    *     true pairs' exact similarities, E[1 − (1 − Jʳ)ᵇ]
    *     (Leskovec/Rajaraman/Ullman, MMDS ch. 3). Measured ≪ expected
    *     means the implementation or tokenization is broken, not the
    *     (b, r) choice — the complement of the a-priori tuning curve
    *     ([[graft.functions.MinHash.lshTuningCurve]]);
    *   - `false_candidate_rate` — candidates below threshold over all
    *     candidates: the verify-join volume the banding wastes.
    *
    * Scale contract: pick `sampleMod` so the sample is ~10⁴ documents
    * (the sample is a 1/`sampleMod` fraction of the corpus); every join
    * is then sample-sized and the gate costs one signature pass over
    * the sample. Run it BEFORE the corpus-wide dedup — the same
    * measure-first discipline as [[graft.relational.Diagnostics]]. */
  def lshRecall(tokenPairs: DataFrame, numPerm: Int, bands: Int,
                threshold: Double, sampleMod: Int, scale: Int = 6): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val r = numPerm / bands
    // sample is referenced five times (truth sizes + both join sides,
    // signature, doc count) — persist, release after the one-row
    // checkpoint below.
    val toks = tokenPairs
      .filter(Text.md5Long(col("id")) % sampleMod === 0)
      .distinct()
      .persist()
    val truth = ngramJaccardPairs(toks, threshold)
    // buckets feed BOTH candidate self-join sides; without the persist
    // the signature aggregation runs twice (static exchange reuse does
    // not collapse the renamed branches — the minHashNearDupPairs note).
    // Skinny (bands rows per doc); released with toks below.
    val buckets =
      MinHash.bandBuckets(MinHash.signature(toks, numPerm), bands, r)
        .persist()
    val cand = buckets.withColumnRenamed("id", "id_a")
      .join(buckets.withColumnRenamed("id", "id_b"), Seq("key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val pairs = truth.withColumn("is_true", lit(true))
      .join(cand.withColumn("is_cand", lit(true)),
        Seq("id_a", "id_b"), "full_outer")
    val pairAgg = pairs.agg(
      count(col("is_true")).as("n_true_pairs"),
      count(col("is_cand")).as("n_candidates"),
      count(when(col("is_true") && col("is_cand"), 1)).as("n_caught"),
      avg(when(col("is_true"), lit(1.0) -
        pow(lit(1.0) - pow(col("jaccard"), lit(r.toDouble)),
          lit(bands.toDouble)))).as("_exp"))
    val out = toks.select("id").distinct().agg(count(lit(1)).as("n_docs"))
      .crossJoin(pairAgg)
      .select(col("n_docs"), col("n_true_pairs"), col("n_candidates"),
        col("n_caught"),
        graft.functions.Num.stableRound(
          when(col("n_true_pairs") === 0, lit(1.0))
            .otherwise(col("n_caught").cast("double") / col("n_true_pairs")),
          scale).as("recall"),
        graft.functions.Num.stableRound(coalesce(col("_exp"), lit(1.0)),
          scale).as("expected_recall"),
        graft.functions.Num.stableRound(
          when(col("n_candidates") === 0, lit(0.0))
            .otherwise((col("n_candidates") - col("n_caught")).cast("double")
              / col("n_candidates")), scale).as("false_candidate_rate"))
    CacheScope.seal(out, buckets, toks)
  }

  /** SimHash near-dups: 60-bit fingerprints, candidates collide on one of
    * four 15-bit chunks (any pair within hamming ≤ 3 of each other is
    * guaranteed caught; larger distances best-effort), verified by exact
    * hamming ≤ `maxHamming`. */
  def simHashNearDupPairs(tokenPairs: DataFrame, maxHamming: Int): DataFrame = {
    // localCheckpoint: the (doc-sized) fingerprint table feeds BOTH
    // sides of the chunk self-join, and runtime exchange reuse does not
    // collapse the renamed branches (measured: 22 tasks vs 6 for the
    // fingerprint alone — the whole token scan + simhash aggregation ran
    // twice). One row per doc, so the materialization is the cheapest
    // frame in the plan.
    val fp = SimHash.fingerprint(tokenPairs).localCheckpoint()
    // NB on partitioning: the fingerprint frame is tiny (one row per doc),
    // so AQE coalesces the pre-join exchange aggressively and the
    // candidate blowup after the equi-join runs under-parallel on this
    // corpus. Two fixes measured and REJECTED at sf0.1: an explicit
    // repartition(par, chunk) (worse — pins the skewed key layout without
    // splitting the hot key) and an 8-way replication salt on the
    // self-join (7.5 → 8.8 s — the cost here is TOTAL candidate volume on
    // a near-dup-dense corpus, not one straggler key, so salting only
    // added 8× probe-side exchange). Left to AQE on purpose; on a real
    // heavy-tailed corpus where one degenerate chunk dominates, the
    // saltFactor pattern in ngramJaccardPairs/capHotKeys applies.
    val chunks = fp.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        concat(lit(s"$c:"),
          shiftright(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL)))): _*))
        .as(Seq("_c", "chunk")))
    // hamming is codegen'd bit math — evaluate it BEFORE any exchange.
    // Dedup WITHOUT a distinct: a pair colliding in k chunks used to be
    // emitted k times and deduplicated by a full extra exchange of the
    // output pair stream (the former `.distinct()` — on a near-dup-dense
    // corpus that exchange carries the quadratic pair volume a second
    // time). Instead each pair is emitted ONLY at its minimum matching
    // chunk index: both fingerprints ride the joined row, so "no chunk
    // below _c also matches" is row-local bit math (the min-witness
    // rule). Exactly-once per qualifying pair by construction — a pair
    // has one chunk value per index, so index c matches at most once,
    // and the minimum matching index is unique. Identical output set to
    // the distinct form; one full exchange of the pair stream removed.
    def chunkEq(c: Int) =
      shiftright(col("fp_a"), c * 15).bitwiseAND(lit(0x7FFFL)) ===
        shiftright(col("fp_b"), c * 15).bitwiseAND(lit(0x7FFFL))
    val minWitness = (0 until 4).map { c =>
      (col("_c") === c) && (0 until c)
        .map(p => !chunkEq(p)).foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    chunks.select(col("id").as("id_a"), col("simhash").as("fp_a"),
        col("_c"), col("chunk"))
      .join(chunks.select(col("id").as("id_b"), col("simhash").as("fp_b"),
          col("chunk")),
        Seq("chunk"))
      .filter(col("id_a") < col("id_b"))
      .filter(minWitness)
      .select(col("id_a"), col("id_b"),
        SimHash.hamming(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicate-cluster formation — the step after any near-dup pair
    * operator in a corpus pipeline: connected components over the pair
    * graph, labeling every id with its component's lexicographic-min
    * member id (the canonical document to KEEP; everything else in the
    * component is droppable).
    *
    * FRONTIER-based min-label propagation to fixpoint (Pregel-style
    * vote-to-halt): each round joins the edge list against only the
    * labels that CHANGED last round, not the full label table. Labels
    * decrease monotonically, so an unchanged source's contribution was
    * already folded into its neighbors in an earlier round — propagating
    * it again is a no-op (invariant: after round k, label(v) ≤
    * label_{k−1}(u) for every edge u→v; induction over rounds). On a
    * near-dup graph the frontier collapses after ~2 rounds to the few
    * long-chain nodes, so at 100 TB the steady-state round cost is
    * frontier-sized, not corpus-sized.
    *
    * Chain-shaped components: plain min-propagation needs
    * eccentricity-many rounds (a diameter-d path takes d rounds — a
    * 50-link near-dup chain would NOT converge inside the default
    * `maxIterations`). From the 4th round on, each round therefore also
    * POINTER-JUMPS the label table (Shiloach–Vishkin shortcutting:
    * label(u) ← min(label(u), prevLabel(label(u)))), so the distance to
    * each component's min node shrinks geometrically and any realistic
    * diameter converges well inside the default cap. The first three
    * rounds skip the jump: near-dup graphs are star-shaped, converge in
    * 2–3 rounds, and should not pay the extra node-sized join.
    *
    * Non-convergence is LOUD: if the fixpoint is not reached inside
    * `maxIterations`, the labels would be silently under-merged (two
    * halves of one component reported as distinct clusters), so the
    * method throws instead of returning them — raise `maxIterations`
    * (with jumping, round r reaches distance ~3·2^(r−3), so the default
    * 20 covers diameters into the hundreds of thousands).
    *
    * The change flag rides along in the computed frame, so convergence
    * detection is a filter over the about-to-be-cached result — no extra
    * join, and the probe action doubles as the round's materialization.
    * Nothing is ever collected to the driver; superseded label frames
    * are released eagerly, so storage stays flat however many rounds
    * run, and the call returns holding only its output checkpoint.
    *
    * Long-diameter graphs: every `checkpointInterval`-th round the label
    * frame is local-checkpointed instead of persisted, truncating the
    * logical plan — otherwise round k's plan nests all k−1 predecessors,
    * so analysis cost grows O(rounds²) and an evicted cache partition
    * recomputes through every earlier round (the standard iterative-
    * algorithm hazard; same default shape as GraphFrames' connected
    * components). Near-dup graphs converge in 2–4 rounds and never hit
    * it; it exists for the chain-shaped tail. 0 disables. */
  def components(
      pairs: DataFrame, maxIterations: Int = 20,
      checkpointInterval: Int = 5): DataFrame =
    componentsWithRounds(pairs, maxIterations, checkpointInterval)._1

  /** Rounds-done count below which the loop does not pointer-jump (so
    * rounds 1–3 are pure frontier propagation — the star-shaped common
    * case never pays the extra join, chains start shortcutting from
    * round 4; round 1 itself is folded into the init aggregate). */
  private val jumpFromRound = 3

  /** [[components]] plus the number of propagation rounds it took to
    * reach the fixpoint — the scale-rehearsal observable (rounds grow
    * with component DIAMETER until jumping starts, then log-diameter;
    * a dup graph that suddenly needs many rounds signals chain-shaped
    * pathology, not volume). */
  def componentsWithRounds(
      pairs: DataFrame, maxIterations: Int = 20,
      checkpointInterval: Int = 5): (DataFrame, Int) = {
    // Checkpoint the DIRECTED pairs before symmetrizing: the union's two
    // branches would otherwise each evaluate the upstream pair pipeline
    // (ReuseExchange does not reliably collapse them under AQE) — the
    // ×100 curve measured keep_best's spill at ~2× the single-pass
    // number before this. The checkpoint also truncates the upstream
    // lineage to a leaf, so the per-round re-analysis of every frame
    // derived from `edges` stays flat (round k's analyzed plan used to
    // nest the whole ngram/LSH pipeline), and it materializes only the
    // pair-count-sized projection.
    val directed = pairs
      .select(col("id_a").cast("string").as("src"), col("id_b").cast("string").as("dst"))
      .localCheckpoint()
    // localCheckpoint (NOT persist) for the per-round edge list: cached
    // plans keep their full shuffle-partition layout (AQE cannot re-shape
    // a cache — canChangeCachedPlanOutputPartitioning is off), so a
    // persisted edges frame makes EVERY round scan shuffle.partitions
    // cache splits; the checkpoint stores the AQE-coalesced distinct
    // output instead (measured: +54..+178 tasks/query under persist on
    // the density family, checkpoint form flat).
    val edges = directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    CacheScope.release(directed) // edges is materialized; directed is done
    // Round 1 is FOLDED into the init aggregate: from the all-self start,
    // label_1(v) = min(v, min neighbor of v) — and the groupBy(src)
    // shuffle that used to build the distinct-id init computes exactly
    // that for free, so the first edge⋈frontier join round never runs.
    // _chg = (label_1 < id) marks the round-1 frontier (a node changes in
    // round 1 iff some neighbor is smaller; self-loops change nothing).
    val init = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("_nbr"))
      .select(col("id"), least(col("id"), col("_nbr")).as("component"),
        (col("_nbr") < col("id")).as("_chg"))
      .persist()
    var cached = init                                   // this round's cache, to release
    var labels = init.select("id", "component")         // full (id, component) view
    var frontier = init.filter(col("_chg")).select("id", "component")
    // round-1 convergence probe: one full scan of init (NOT an isEmpty
    // probe, for the same full-materialization reason as the loop probe
    // below) counts its nodes and its round-1 frontier. Empty edge list
    // ⇒ empty init ⇒ done with no round run at all.
    val probe = init.agg(count(lit(1)), count(when(col("_chg"), true))).head()
    var done = probe.getLong(1) == 0L
    var i = if (probe.getLong(0) == 0L) 0 else 1        // propagation rounds run so far
    while (!done && i < maxIterations) {
      val nbrMin = edges
        .join(frontier.select(col("id").as("src"), col("component")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min("component").as("_nc"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("component").as("_old"),
          least(col("component"), coalesce(col("_nc"), col("component"))).as("component"))
      // Pointer jump (rounds ≥ 4, scaladoc): fold in the PREVIOUS round's
      // label of each node's current label — `labels` is the persisted
      // prior frame, so this is a plain join, not a self-join, and stale
      // pointers still shrink chain distance geometrically. Labels are
      // node ids and `labels` covers every node, so the key always
      // matches (left + coalesce is defensive only). Late-round skew
      // (most labels = the component min) is an AQE-split sort-merge or,
      // once the distinct-label side is small, a runtime broadcast.
      val shortcut =
        if (i < jumpFromRound) stepped
        else stepped.join(
            labels.select(col("id").as("component"), col("component").as("_jc")),
            Seq("component"), "left")
          .select(col("id"), col("_old"),
            least(col("component"), coalesce(col("_jc"), col("component"))).as("component"))
      // labels only decrease, so strictly-lower ⇔ changed this round
      val computed = shortcut.select(col("id"), col("component"),
        (col("component") < col("_old")).as("_chg"))
      // eager localCheckpoint both materializes and cuts lineage; safe to
      // drop the previous round below because this round's data is real
      // (not a recomputable view) by the time we release it.
      val next =
        if (checkpointInterval > 0 && (i + 1) % checkpointInterval == 0)
          computed.localCheckpoint()
        else computed.persist()
      frontier = next.filter(col("_chg")).select("id", "component")
      // count(), NOT isEmpty: isEmpty is a take(1) probe that stops at the
      // first changed row, caching only the `next` partitions it touched —
      // later rounds then recompute the rest from lineage (cascading back
      // through every earlier round's partially-cached frame). count()
      // scans every partition, so the convergence probe doubles as a FULL
      // materialization of the round's cache.
      done = frontier.count() == 0L
      CacheScope.release(cached)
      cached = next
      labels = next.select("id", "component")
      i += 1
    }
    if (!done) {
      CacheScope.release(cached, edges)
      throw new IllegalStateException(
        s"components did not converge in $maxIterations rounds — labels " +
          "would be under-merged; raise maxIterations (each jumping round " +
          "roughly doubles the chain distance covered)")
    }
    // Hand back a self-contained frame: checkpoint the (node-count-sized)
    // final labels, then free the last round and the edge checkpoint so
    // nothing of the iteration survives in a shared session.
    (CacheScope.seal(labels, cached, edges), i)
  }

  /** Deterministic shard assignment — the export tail of the pipeline:
    * shard = md5-long(id) mod numShards. Content-addressed, so re-runs
    * and incremental refreshes land a document in the SAME shard (no
    * round-robin/task-order nondeterminism), and md5 uniformity keeps
    * shards balanced for any id distribution. Row-local expression —
    * no shuffle; the shuffle happens once, in [[writeSharded]]. */
  def shardAssignment(ids: DataFrame, idCol: String, numShards: Int): DataFrame =
    ids.select(col(idCol).cast("string").as("id"))
      .select(col("id"),
        pmod(Text.md5Long(col("id")), lit(numShards.toLong)).cast("int").as("shard"))

  /** Write a corpus as `numShards` stable shards: one exchange keyed on
    * the shard column (so each task writes only its own shards — no
    * numShards × tasks small-file blowup), then a partitioned parquet
    * layout readable shard-at-a-time by a training loader. */
  def writeSharded(
      docs: DataFrame, idCol: String, numShards: Int, path: String): Unit =
    docs
      .withColumn("shard",
        pmod(Text.md5Long(col(idCol).cast("string")), lit(numShards.toLong)).cast("int"))
      .repartition(numShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** The end of the dedup pipeline: which documents to KEEP. Every id in
    * `ids` (one column, any name) that is either untouched by the pair
    * graph (singleton — no near-dup found) or its component's canonical
    * minimum survives; everything else is droppable, labeled with the id
    * that shadows it. One broadcast-friendly left join against the
    * component labels (component count ≤ pair count — output-sized, tiny
    * next to the corpus), so the corpus table itself is scanned once and
    * never shuffled. */
  def keepList(ids: DataFrame, pairs: DataFrame, maxIterations: Int = 20): DataFrame = {
    val idCol = ids.columns.head
    val labels = components(pairs, maxIterations)
      .select(col("id"), col("component"))
    ids.select(col(idCol).cast("string").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"),
        (col("component").isNull || col("component") === col("id")).as("keep"),
        when(col("component") === col("id"), lit(null))
          .otherwise(col("component")).as("kept_by"))
  }

  /** [[keepList]] with a QUALITY-AWARE representative: instead of each
    * component's minimal id, the member with the highest `scoreCol`
    * survives (ties broken by minimal id, so the choice is total and
    * deterministic). This is the production dedup policy — when a
    * duplicate cluster mixes a full article with its truncated scrapes,
    * min-id keeps whichever happened to crawl first; keep-best keeps
    * the longest/cleanest copy (the policy RefinedWeb/FineWeb-class
    * pipelines actually ship).
    *
    * 100 TB shape: identical to [[keepList]] plus two aggregations over
    * the component-labeled rows — and labels are output-sized (≤ pair
    * count), so the extra argmax work never touches the corpus scan.
    * The representative is found without `max_by` (whose tie behavior
    * is nondeterministic): max score per component, then min id among
    * the maximal members — both shapes with map-side partial
    * aggregation.
    *
    * `scored`: two columns (idCol, scoreCol). Output (id, keep,
    * kept_by) exactly as [[keepList]]. */
  def keepBest(scored: DataFrame, idCol: String, scoreCol: String,
               pairs: DataFrame, maxIterations: Int = 20): DataFrame = {
    val ids = scored.select(col(idCol).cast("string").as("id"),
      col(scoreCol).cast("double").as("_score"))
    val labels = components(pairs, maxIterations)
      .select(col("id"), col("component"))
    val labeled = ids.join(labels, Seq("id"))
    val best = labeled.groupBy("component").agg(max(col("_score")).as("_best"))
    // null-SAFE equality: a component whose scores are ALL null has a
    // null _best (max ignores nulls); === would drop it from rep and
    // every member's keep column would evaluate to SQL NULL — a
    // downstream filter(col("keep")) silently loses the whole cluster.
    // <=> makes the all-null component fall back to min-id keep-one.
    val rep = labeled.join(best, Seq("component"))
      .filter(col("_score") <=> col("_best"))
      .groupBy("component").agg(min(col("id")).as("_rep"))
    ids.join(labels, Seq("id"), "left")
      .join(rep, Seq("component"), "left")
      .select(col("id"),
        (col("component").isNull || col("_rep") === col("id")).as("keep"),
        when(col("component").isNull || col("_rep") === col("id"), lit(null))
          .otherwise(col("_rep")).as("kept_by"))
  }

  /** Ordered whitespace tokens per document: (id, t: array<string>).
    * Position-preserving (unlike the distinct-token pipelines above) —
    * the input to span-level operators where WHERE a token sits matters.
    * Null text coalesces to '' so every document gets a row; blank or
    * whitespace-only text yields ZERO tokens (the raw split's [''] is
    * filtered — an empty document has no windows, on both engines). */
  private def orderedTokens(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("string").as("id"),
      filter(split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+"),
        t => t =!= "").as("t"))

  /** All n-token windows of each document: (id, p, gram) with p the
    * 0-based start position and gram the space-joined window text.
    * Row-local (posexplode over a transform/slice) — no shuffle, no
    * UDF; documents shorter than n emit no windows. */
  private def tokenWindows(toks: DataFrame, n: Int): DataFrame =
    toks.filter(size(col("t")) >= n)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("t")) - n),
        p => concat_ws(" ", slice(col("t"), p + 1, lit(n))))))
      .toDF("id", "p", "gram")

  /** DISTINCT n-token windows of ONE document as a row-local array
    * column — the un-exploded form of [[tokenWindows]] over
    * [[orderedTokens]]'s tokenization, kept in lockstep with both (same
    * split/trim/lower, same slice windows). `size(array_intersect(this,
    * benchGrams))` equals [[decontaminate]]'s per-document
    * `countDistinct` hit count by construction. Documents shorter than
    * n yield an empty array. */
  def windowsArray(text: Column, n: Int): Column =
    graft.functions.Text.letBind(
      filter(split(trim(lower(coalesce(text, lit("")))), "\\s+"),
        x => x =!= "")) { t =>
      when(size(t) >= n,
        array_distinct(transform(sequence(lit(0), size(t) - n),
          p => concat_ws(" ", slice(t, p + 1, lit(n))))))
        .otherwise(array().cast("array<string>"))
    }

  /** The distinct benchmark gram set [[decontaminate]] broadcasts
    * (eval-suite-sized by contract). Curation's front cuts the same set
    * on the driver (`WindowHitCount.grams`), spec-asserted equal. */
  def benchmarkGrams(benchmark: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame =
    tokenWindows(orderedTokens(benchmark, idCol, textCol), n)
      .select("gram").distinct()

  /** Exact duplicated-span removal (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * public method; the reference has no span-level operator, this is
    * charter scope). A token position is dropped iff it is covered by
    * any n-token window whose exact text occurs ≥ `minCount` times
    * corpus-wide (including repeats within one document); the document
    * is rebuilt from the surviving positions.
    *
    * 100 TB shape: strictly linear — windows are row-local, the
    * duplicated-gram set is one map-side-combined groupBy count, the
    * coverage join is a semi join (windows ⋉ dup-grams, bounded by
    * window count — a boilerplate gram shared by B documents costs B
    * rows here, NOT B²; there is no pairwise stage anywhere), and the
    * rebuild is one groupBy per document. This is why span dedup is the
    * cheapest corpus-wide dedup in the family.
    *
    * Output: (id, n_tokens, n_kept, kept_text) for EVERY input document
    * (fully-duplicated documents come back with n_kept = 0, kept_text
    * ''). */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                n: Int, minCount: Long = 2L): DataFrame = {
    val toks = orderedTokens(docs, idCol, textCol)
    val wins = tokenWindows(toks, n)
    val dup = wins.groupBy("gram").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount).select("gram")
    keepUncovered(toks, wins.join(dup, Seq("gram"), "left_semi"), n)
  }

  /** The rebuild shared by [[spanDedup]] and [[crossDocCut]]: drop every
    * token position of `toks` covered by a matched (id, p) n-token
    * window and rejoin the survivors in order. Output: (id, n_tokens,
    * n_kept, kept_text) for every document of `toks`. */
  private def keepUncovered(toks: DataFrame, matched: DataFrame, n: Int): DataFrame = {
    val covered = matched
      .select(col("id"), explode(sequence(col("p"), col("p") + n - 1)).as("pos"))
      .distinct()
    val positions = toks.select(col("id"), posexplode(col("t")).as(Seq("pos", "tok")))
    val kept = positions.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          sort_array(collect_list(struct(col("pos"), col("tok")))).getField("tok"))
          .as("kept_text"))
    toks.select(col("id"), size(col("t")).cast("long").as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Windows whose exact n-token text occurs in ≥ 2 DISTINCT documents
    * (and, with `maxDocFreq > 0`, in at most that many — the boilerplate
    * lever: at corpus scale header/footer text would otherwise cover
    * every document and the cap drops it BEFORE any span work): the
    * matched-position stream (id, p) behind [[crossDocSpans]] /
    * [[crossDocCut]]. One gram-keyed shuffle for the doc-frequency
    * filter; everything else row-local. */
  private def crossDocMatchedWindows(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocFreq: Long): DataFrame = {
    val wins = tokenWindows(orderedTokens(docs, idCol, textCol), n)
    val freq = wins.select(col("gram"), col("id")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("_d"))
    val shared = freq
      .filter(col("_d") >= 2 &&
        (if (maxDocFreq > 0) col("_d") <= maxDocFreq else lit(true)))
      .select("gram")
    wins.join(shared, Seq("gram"), "left_semi").select("id", "p")
  }

  /** Cross-document repeated spans (the cross-doc half of Lee et al.
    * 2021's ExactSubstr, arXiv:2107.06499 — public method): maximal
    * token ranges covered by n-token windows whose exact text appears in
    * at least one OTHER document. Output: (id, span_start, span_len,
    * n_windows) with 0-based token positions — the report a curation
    * pipeline reads before deciding to cut ([[crossDocCut]]) or keep.
    *
    * 100 TB shape: window expansion is row-local; the only corpus-wide
    * shuffle is the gram doc-frequency aggregate; span merging
    * (gaps-and-islands over matched positions) is a window partitioned
    * BY DOCUMENT — bounded by document length, never global. */
  def crossDocSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, maxDocFreq: Long = 0L): DataFrame = {
    val ord = Window.partitionBy(col("id")).orderBy(col("p"))
    crossDocMatchedWindows(docs, idCol, textCol, n, maxDocFreq)
      .withColumn("_prev", lag(col("p"), 1).over(ord))
      .withColumn("_brk",
        when(col("_prev").isNull || col("p") > col("_prev") + 1, 1L).otherwise(0L))
      .withColumn("_isl", sum(col("_brk")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("_isl"))
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + lit(n) - min(col("p"))).cast("long").as("span_len"),
        count(lit(1)).as("n_windows"))
      .select("id", "span_start", "span_len", "n_windows")
  }

  /** Cross-document span removal: drop every token covered by a window
    * shared with another document ([[crossDocSpans]] semantics), keep
    * the rest in order — same output contract as [[spanDedup]]
    * (id, n_tokens, n_kept, kept_text), but the trigger is CROSS-doc
    * repetition only: a phrase repeated within one document survives
    * unless some other document also carries it. */
  def crossDocCut(docs: DataFrame, idCol: String, textCol: String,
                  n: Int, maxDocFreq: Long = 0L): DataFrame = {
    keepUncovered(orderedTokens(docs, idCol, textCol),
      crossDocMatchedWindows(docs, idCol, textCol, n, maxDocFreq), n)
  }

  /** Benchmark decontamination (the n-gram overlap check of Brown et
    * al. 2020 appendix C / Gao et al. — public method): flag every
    * corpus document sharing at least one exact n-token window with the
    * benchmark set. Output: (id, n_hits = distinct shared grams,
    * contaminated) for EVERY corpus document.
    *
    * 100 TB shape: the benchmark gram set is eval-suite-sized (thousands
    * of documents, not the corpus), so it is explicitly `broadcast` —
    * the corpus-side windows stream map-side through the hash semi
    * join and the only shuffle is the per-document count. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    val corpusWins =
      tokenWindows(orderedTokens(corpus, idCol, textCol), n)
    val benchGrams = broadcast(benchmarkGrams(benchmark, idCol, textCol, n))
    val hits = corpusWins.join(benchGrams, Seq("gram"), "left_semi")
      .groupBy("id").agg(countDistinct(col("gram")).as("n_hits"))
    orderedTokens(corpus, idCol, textCol).select(col("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0L).as("contaminated"))
  }
}
