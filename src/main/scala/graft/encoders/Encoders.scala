package graft.encoders

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CacheScope, EntityFrame}
import graft.functions.Text

/** Frame encoders: EntityFrame (+ optional relation triples) → one dense
  * embedding row per entity, `(id: string, vec: array<double>)`.
  *
  * Mirrors the reference's encoder stack (src/klinker/encoders/) with the
  * boundary SURVEY.md M6/M7 prescribes: *learned* models (transformers,
  * DeepBlocker) stay external — embeddings enter as a DataFrame — while
  * everything computable from the data itself (hash/word pooling M4,
  * graph propagation M8/M9) is implemented natively as joins+aggregates.
  */
trait FrameEncoder {
  def encode(
      frame: EntityFrame,
      rel: Option[DataFrame] = None): DataFrame
}

/** M4-style pooled token embedding with a deterministic md5-derived
  * token vector table (stands in for fasttext/gloVe lookups, which at
  * scale are themselves just a parquet join — reference
  * pretrained.py:259-384). Optional SIF weighting (M5) with the
  * reference's min_freq floor (pretrained.py:495-499: tokens below
  * `minFreq` get weight 1.0) and first-principal-component removal
  * (pretrained.py:517-531; the reference's default — off here so the
  * plain pooled encoder stays available). */
final case class HashTokenEncoder(
    dims: Int = 8,
    sif: Boolean = false,
    sifA: Double = 1e-3,
    minFreq: Int = 0,
    removePc: Boolean = false) extends FrameEncoder {

  override def encode(frame: EntityFrame, rel: Option[DataFrame]): DataFrame = {
    val toks = TokenWeighting.tokenStream(frame)
    val (weighted, cached) = TokenWeighting.weighted(toks, sif, sifA, minFreq)
    val dimCols = (0 until dims).map(d =>
      (sum(col("w") * HashTokenEncoder.dimValue(col("_x"), d))
        / sum(col("w"))).as(s"d$d"))
    val pooled = weighted
      .withColumn("_x", HashTokenEncoder.tokenHash(col("key")))
      .groupBy("id").agg(dimCols.head, dimCols.tail: _*)
      .select(col("id"), array((0 until dims).map(d => col(s"d$d")): _*).as("vec"))
    val out = if (removePc) PcRemoval.removeFirstPc(pooled, dims) else pooled
    CacheScope.seal(out, cached.toSeq: _*)
  }
}

/** Shared M4 plumbing: the tokenized (id, key) stream and the SIF
  * weighting join, factored so [[HashTokenEncoder]] (pseudo-vectors) and
  * [[TableTokenEncoder]] (real vector-table lookup) cannot drift. */
private[encoders] object TokenWeighting {

  /** (id, key): one row per token occurrence of the frame's
    * concatenated values. */
  def tokenStream(frame: EntityFrame): DataFrame =
    frame.concatValues()
      .select(col(frame.idCol).cast("string").as("id"),
        explode(Text.tokenize(col(EntityFrame.ConcCol))).as("key"))

  /** Attach the per-token weight column `w`. With `sif`, the reference's
    * prepare() weighting (pretrained.py:486-515): a/(a + freq/total)
    * with the min_freq floor, frequencies over the FULL token stream —
    * computed before any vocabulary lookup, so unknown tokens still
    * count toward totals exactly like the reference (its value_counts
    * run over the tokenizer output, not the vocab). Returns the
    * persisted token stream (if any): the encoder seals its
    * one-row-per-entity output with it ([[graft.core.CacheScope]]), so a
    * long-lived session keeps no cached token stream per encode. */
  def weighted(toks: DataFrame, sif: Boolean, sifA: Double, minFreq: Int)
      : (DataFrame, Option[DataFrame]) =
    if (!sif) (toks.withColumn("w", lit(1.0)), None)
    else {
      // persist: the token stream feeds both the frequency aggregate and
      // the weight join; total token count comes in-plan from the (tiny)
      // counts frame — no driver-side count() action, no third scan
      val cached = toks.persist()
      val counts = cached.groupBy("key").agg(count(lit(1)).as("freq"))
      val withTotal = counts.crossJoin(
        broadcast(counts.agg(sum("freq").cast("double").as("total"))))
      // withTotal is one row per DISTINCT TOKEN — no broadcast hint: a
      // 100 TB vocab outgrows an executor; AQE broadcasts while small
      val w = cached.join(withTotal, Seq("key"))
        .withColumn("w",
          when(col("freq") >= minFreq,
            lit(sifA) / (lit(sifA) + col("freq") / col("total")))
          .otherwise(lit(1.0)))
      (w, Some(cached))
    }
}

/** M4's production form: pooled token embeddings from a REAL
  * user-supplied `(token, vector)` table — the reference's
  * fasttext/gloVe KeyedVectors lookup (pretrained.py:259-384), which at
  * scale is exactly a parquet join. Unknown tokens are SKIPPED (the
  * reference's KeyError → continue, pretrained.py:344-349): the lookup
  * is an inner join, so only vocabulary tokens contribute to the
  * average. SIF weighting (pretrained.py:486-515) runs over the REAL
  * corpus frequencies of the full token stream — frequencies and totals
  * are computed BEFORE the vocabulary join, exactly like the
  * reference's prepare(), where value_counts runs on tokenizer output.
  *
  * Documented divergences:
  *   - an entity whose every token is unknown gets a RANDOM
  *     xavier-initialized row in the reference (pretrained.py:368-384 —
  *     noise, different every run); here it is absent from the output
  *     (deterministic, and a kNN block built from a random vector is
  *     arbitrary anyway). Downstream blockers treat missing ids as
  *     unblocked, the honest semantics.
  *   - pooling normalizes by the WEIGHT SUM (sum(w·v)/sum(w), a true
  *     weighted mean — the repo-wide [[HashTokenEncoder]] convention,
  *     so the two encoders' outputs are comparable), where the
  *     reference's weighted_embed (pretrained.py:342-353) multiplies
  *     each vector by its SIF weight and then np.mean's — dividing by
  *     the COUNT of known tokens. Directions are identical; magnitudes
  *     differ by sum(w)/count, so cosine-based downstream (the kNN
  *     blockers) is unaffected while euclidean-based downstream
  *     (density clustering eps, PC removal) sees differently-scaled
  *     vectors than the reference. With `sif = false` both conventions
  *     coincide (w ≡ 1).
  *
  * Scale shape: tokenize → (optional) SIF weight join → hash join to
  * the vector table → one map-side-combinable groupBy(id) with `dims`
  * partial sums (element_at into the joined array — no vector explode,
  * no dims× row inflation). The vector table shuffles on its token key
  * like any dimension join (a 400k×300 gloVe table is ~1 GB — AQE
  * decides whether to broadcast it). */
final case class TableTokenEncoder(
    vectors: DataFrame,
    dims: Int,
    sif: Boolean = false,
    sifA: Double = 1e-3,
    minFreq: Int = 0,
    removePc: Boolean = false) extends FrameEncoder {

  override def encode(frame: EntityFrame, rel: Option[DataFrame]): DataFrame = {
    val toks = TokenWeighting.tokenStream(frame)
    val (weighted, cached) = TokenWeighting.weighted(toks, sif, sifA, minFreq)
    // first two columns positionally = (token, vector), any names
    val Array(tokCol, vecCol) = vectors.columns.take(2)
    val vt = vectors.select(col(tokCol).cast("string").as("key"),
      col(vecCol).as("_tv"))
    val dimCols = (0 until dims).map(d =>
      (sum(col("w") * element_at(col("_tv"), d + 1)) / sum(col("w"))).as(s"d$d"))
    val pooled = weighted.join(vt, Seq("key"))
      .groupBy("id").agg(dimCols.head, dimCols.tail: _*)
      .select(col("id"), array((0 until dims).map(d => col(s"d$d")): _*).as("vec"))
    val out = if (removePc) PcRemoval.removeFirstPc(pooled, dims) else pooled
    CacheScope.seal(out, cached.toSeq: _*)
  }

  /** [[CachedEncoder]] keys the cache on this string: the default
    * case-class toString would render the vectors DataFrame as its
    * schema only, so two different vector TABLES with one schema would
    * collide — fingerprint the table's resolved input files instead
    * (the CachedEncoder dataset-fingerprint trick, driver-side only)
    * plus the logical plan's semantic hash, which distinguishes
    * in-memory / derived vector frames that have no input files. */
  override def toString: String = {
    val files =
      try vectors.inputFiles.sorted.mkString("\n")
      catch { case _: Exception => "" }
    // plus the logical plan's semantic hash: an in-memory / derived
    // vector frame has NO input files, and two of them with one schema
    // would otherwise collide in the cache key
    val planHash =
      try vectors.queryExecution.logical.semanticHash().toString
      catch { case _: Exception => "" }
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md
      .digest((files + "|" + planHash + "|" + vectors.schema.treeString)
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"TableTokenEncoder($digest,$dims,$sif,$sifA,$minFreq,$removePc)"
  }
}

object TableTokenEncoder {
  /** CLI entry (`--word-vectors <parquet>`): the vector table read from
    * a parquet of (token, vector) rows — the shape a fasttext/gloVe
    * dump lands in after one conversion pass. */
  def fromParquet(
      spark: SparkSession, path: String, dims: Int,
      sif: Boolean = false, sifA: Double = 1e-3, minFreq: Int = 0,
      removePc: Boolean = false): TableTokenEncoder =
    TableTokenEncoder(spark.read.parquet(path), dims, sif, sifA, minFreq,
      removePc)
}

/** The deterministic token-vector formula, shared with every oracle that
  * replays it: ONE md5 per token (`tokenHash`, the expensive digest),
  * then per-dimension affine mixing over the md5's low 32 bits mapped to
  * the 1/1000 grid in [-1, 1] — the [[graft.functions.MinHash]]
  * permutation family with constants offset by 1000 so encoder
  * dimensions never share a permutation with LSH bands. Replaces the
  * md5-per-(token, dim) formulation (digest cost /dims). */
object HashTokenEncoder {
  import graft.functions.MinHash
  private val Off = 1000

  /** x = md5Long(key) mod 2^32 — compute once per token row, below the
    * pooling aggregate. */
  def tokenHash(key: Column): Column = Text.md5Long(key) % lit(MinHash.Space)

  /** Dimension-d vector component of a hashed token. */
  def dimValue(x: Column, d: Int): Column =
    (((lit(MinHash.permA(Off + d)) * x + lit(MinHash.permB(Off + d)))
      % lit(MinHash.Modulus)) % 2001 - 1000) / 1000.0

  // ---------- DuckDB oracle SQL mirrors (kept in lockstep) ----------

  /** SQL of [[tokenHash]] over a key expression. */
  def tokenHashSql(keyExpr: String): String =
    s"('0x'||substr(md5($keyExpr),1,15))::bigint % ${MinHash.Space}"

  /** SQL of [[dimValue]] over an already-hashed `x` expression. */
  def dimValueSql(xExpr: String, d: Int): String =
    s"((((${MinHash.permA(Off + d)} * $xExpr + ${MinHash.permB(Off + d)})" +
      s" % ${MinHash.Modulus}) % 2001 - 1000)/1000.0)"

  /** The per-dimension constants as a VALUES relation `c(d, a, b)` for
    * range-style SQL (`v = (((c.a * x + c.b) % Modulus) % 2001 - 1000)/1000.0`). */
  def dimConstsSqlValues(dims: Int): String =
    (0 until dims)
      .map(d => s"($d, ${MinHash.permA(Off + d)}, ${MinHash.permB(Off + d)})")
      .mkString("(VALUES ", ", ", ")")
}

/** First-principal-component removal (SIF paper postprocessing; reference
  * pretrained.py:517-531, TruncatedSVD n_components=1 — note TruncatedSVD
  * does NOT center, so the top right-singular vector of the raw matrix is
  * what's removed — exactly [[org.apache.spark.mllib.linalg.distributed.RowMatrix.computeSVD]]).
  *
  * Scale: computeSVD(k=1) at these widths goes through the d×d Gramian —
  * ONE distributed pass over the rows, then an O(d²) driver solve; the
  * subtraction is a codegen'd zip_with against the broadcast pc literal.
  * Nothing quadratic in row count anywhere. */
object PcRemoval {
  import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
  import org.apache.spark.mllib.linalg.distributed.RowMatrix

  /** emb(id, vec: array<double>) → same frame with x := x − (x·pc)pc.
    * The sign ambiguity of the singular vector cancels (pc appears
    * twice), so the result is deterministic. */
  def removeFirstPc(emb: DataFrame, dims: Int): DataFrame = {
    val rows = emb.select("vec").rdd
      .map(r => OldVectors.dense(r.getSeq[Double](0).toArray))
    if (rows.isEmpty()) return emb // computeSVD NPEs on an empty matrix
    val svd = new RowMatrix(rows, 0L, dims).computeSVD(1, computeU = false)
    val pc = typedLit(svd.V.toArray.toSeq) // d×1 column-major = the pc
    emb
      .withColumn("_dot", aggregate(zip_with(col("vec"), pc, _ * _), lit(0.0), _ + _))
      .withColumn("vec", zip_with(col("vec"), pc, (x, p) => x - col("_dot") * p))
      .drop("_dot")
  }

  /** M5's dim-reduce step, substituted: the reference reduces SIF
    * embeddings with UMAP (pretrained.py:427-596, no Spark equivalent —
    * neighbor-graph optimization on the driver); this is the documented
    * linear stand-in, a TruncatedSVD-style PCA projection onto the top
    * `outDims` right-singular vectors (uncentered, like the reference's
    * own TruncatedSVD usage and [[removeFirstPc]]).
    *
    * Unlike PC removal, projection COORDINATES flip sign with the
    * singular vector, so each component is canonicalized: the entry with
    * the largest |value| (first such index on ties) is made positive —
    * output is deterministic across eigensolvers.
    *
    * Scale: same shape as [[removeFirstPc]] — one distributed Gramian
    * pass (d×d), O(d²·outDims) driver solve, projection is codegen'd
    * zip_with against broadcast literals. */
  def pcaProject(emb: DataFrame, dims: Int, outDims: Int): DataFrame = {
    require(outDims <= dims, "outDims must be <= dims")
    val rows = emb.select("vec").rdd
      .map(r => OldVectors.dense(r.getSeq[Double](0).toArray))
    if (rows.isEmpty()) // computeSVD NPEs on an empty matrix
      return emb.withColumn("vec", array_repeat(lit(0.0), lit(outDims)))
    val svd = new RowMatrix(rows, 0L, dims).computeSVD(outDims, computeU = false)
    // computeSVD keeps only components above its rCond cutoff — a
    // rank-deficient input yields fewer columns; the missing coordinates
    // are exactly zero (the data has no extent in those directions)
    val avail = svd.V.numCols
    emb.withColumn("vec", array((0 until outDims).map { c =>
      if (c >= avail) lit(0.0)
      else {
        val comp = (0 until dims).map(r => svd.V(r, c))
        val maxIdx = comp.indices.maxBy(i => math.abs(comp(i)))
        val canon = if (comp(maxIdx) < 0) comp.map(-_) else comp
        aggregate(zip_with(col("vec"), typedLit(canon), _ * _), lit(0.0), _ + _)
      }
    }: _*))
  }
}

/** Graph message passing (M8 GCN / M9 LightEA, reference encoders/
  * gcn.py:108-234 and light_ea.py:55-248): k rounds of
  * degree-normalized neighbor aggregation over the symmetric relation
  * graph, expressed as join + element-wise aggregate — the
  * aggregateMessages pattern, pure DataFrame.
  *
  * round:  f'(i) = f(i)/2 + Σ_{j∈N(i)} f(j) / (2·sqrt(deg i · deg j))
  * (self-loop keeps own signal; sqrt-degree norm is the GCN kernel).
  * With `l2NormalizeEachRound` the per-round L2 norm matches LightEA's
  * propagation flavor.
  */
final case class GraphPropagationEncoder(
    base: FrameEncoder,
    rounds: Int = 2,
    l2NormalizeEachRound: Boolean = false,
    dims: Int = 8) extends FrameEncoder {
  // (the l2NormalizeEachRound flavor is the SIMPLIFIED LightEA
  // propagation; the faithful three-view version is [[LightEAEncoder]])

  override def encode(frame: EntityFrame, rel: Option[DataFrame]): DataFrame = {
    require(rel.isDefined, "graph encoder needs relation triples")
    val f0 = base.encode(frame, None)
    val (h, _, t) = {
      val Array(a, b, c) = rel.get.columns.take(3)
      (a, b, c)
    }
    // symmetric edge list (string ids)
    val edges = rel.get
      .select(col(h).cast("string").as("src"), col(t).cast("string").as("dst"))
      .unionByName(rel.get
        .select(col(t).cast("string").as("src"), col(h).cast("string").as("dst")))
      .distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))

    var f = f0
    for (_ <- 1 to rounds) {
      // features stay in ARRAY form: the neighbor aggregate is one join +
      // one groupBy with `dims` per-element sums (no ×dims row explosion).
      // deg is one row per VERTEX — no broadcast hint: at billions of
      // vertices a forced broadcast cannot fit an executor; AQE
      // broadcasts while it is small and shuffles when it is not.
      val srcFeat = f.select(col("id").as("src"), col("vec")).join(deg, Seq("src"))
      val sums = (0 until dims).map(i =>
        sum(col("vec")(i) / (sqrt(col("deg") * col("deg_dst")) * 2.0)).as(s"_d$i"))
      val msgs = edges
        .join(srcFeat, Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("deg_dst")), Seq("dst"))
        .groupBy(col("dst").as("id"))
        .agg(sums.head, sums.tail: _*)
      val combined = f.select(col("id"), col("vec"))
        .join(msgs, Seq("id"), "left")
        .select(col("id"), array((0 until dims).map(i =>
          col("vec")(i) / 2.0 + coalesce(col(s"_d$i"), lit(0.0))): _*).as("vec"))
      f =
        if (l2NormalizeEachRound) {
          // row-local norm: no extra stage. letBind the norm — captured
          // inside the divide-lambda it would be re-aggregated per
          // element (O(dims²) per row).
          combined.select(col("id"),
            graft.functions.Text.letBind(
              sqrt(aggregate(transform(col("vec"), x => x * x), lit(0.0), _ + _))) { nrm =>
              when(nrm === 0.0, col("vec"))
                .otherwise(transform(col("vec"), _ / nrm))
            }.as("vec"))
        } else combined
    }
    f
  }
}

/** M9: LightEA three-view label propagation (reference
  * src/klinker/encoders/light_ea.py:55-248; Mao et al., EMNLP 2022 —
  * "LightEA: A Scalable, Robust, and Interpretable Entity Alignment
  * Framework via Three-view Label Propagation") re-expressed as joins +
  * per-dimension aggregates over `(id, vec)` rows — the reference's
  * sparse matmuls become groupBy-sums, nothing is ever collected:
  *
  *   - direction-tagged edges `(h,t,r>)` ∪ `(t,h,r<)` stand in for the
  *     reference's 2r / 2r+1 relation doubling (:120-131);
  *   - `ent_ent` carries the distinct-relation count per (src,dst) pair
  *     plus the per-node incident-triple diagonal (:137-155);
  *   - per round (:221-236): rel features ← row-normalized sum of head
  *     features (the rel_ent view); ent features ← row-normalized
  *     (ent_ent ⋅ ent + ent_rel ⋅ rel_prev) — the relation channel
  *     enters with one round of lag, zeros in round 1 (:199);
  *   - output concatenates the per-round entity channels
  *     ((depth+1)·dims wide, or depth·dims with `onlyNeighborInfo`) and
  *     L2-normalizes each row (:242-248). Entities missing a channel
  *     (disconnected nodes) get dense zero fill at assembly.
  *
  * Scale/plan shape: features stay in ARRAY form — each matmul is one
  * equi-join + one groupBy with `dims` per-element sum aggregates (no
  * ×dims row explosion, no (id, pos) shuffle keys), and every L2
  * normalization is row-local expression work (zero extra stages). The
  * only shuffles are the per-view join+aggregate pairs; no broadcast of
  * per-vertex state anywhere. Each round's features persist because
  * round r+1 and the channel concat both consume them. */
final case class LightEAEncoder(
    base: FrameEncoder,
    depth: Int = 2,
    dims: Int = 8,
    onlyNeighborInfo: Boolean = false) extends FrameEncoder {

  override def encode(frame: EntityFrame, rel: Option[DataFrame]): DataFrame = {
    require(rel.isDefined, "LightEA needs relation triples")
    val (h, r, t) = {
      val Array(a, b, c) = rel.get.columns.take(3)
      (a, b, c)
    }
    val fwd = rel.get.select(col(h).cast("string").as("src"),
      col(t).cast("string").as("dst"), concat(col(r), lit(">")).as("r"))
    val bwd = rel.get.select(col(t).cast("string").as("src"),
      col(h).cast("string").as("dst"), concat(col(r), lit("<")).as("r"))
    val cachedFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { val p = df.persist(); cachedFrames += p; p }
    val edges = cache(fwd.unionByName(bwd).distinct())

    // ent_ent view: off-diagonal = #distinct direction-tagged relations
    // per (src,dst); diagonal = #incident direction-tagged triples.
    // ONE (src,dst)-keyed count over the unioned endpoint rows — each
    // edge contributes its (src,dst) cell plus one (src,src) and one
    // (dst,dst) diagonal hit, so count ≡ the former offDiag + diag sum
    // while paying one aggregate exchange instead of three (guide §2.3
    // aggregate-before-you-shuffle; the union branches scan the edges
    // cache row-locally).
    val entEnt = cache(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("src"), col("src").as("dst")))
      .unionByName(edges.select(col("dst").as("src"), col("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w")))
    val relEnt = cache(edges.select(col("r"), col("src")).distinct())
    val entRel = cache(edges.select(col("dst").as("id"), col("r")).distinct())

    // row-local L2 norm (the reference's _my_norm / F.normalize);
    // letBind the norm so the divide-lambda doesn't re-aggregate it per
    // element (O(dims²) per row)
    def l2(vec: Column): Column =
      graft.functions.Text.letBind(
        sqrt(aggregate(transform(vec, x => x * x), lit(0.0), _ + _))) { nrm =>
        when(nrm === 0.0, vec).otherwise(transform(vec, _ / nrm))
      }
    // per-dimension sum aggregates of `expr(vec[i])` → reassembled array
    def dimAgg(grouped: org.apache.spark.sql.RelationalGroupedDataset,
               term: Int => Column): DataFrame = {
      val sums = (0 until dims).map(i => sum(term(i)).as(s"_d$i"))
      grouped.agg(sums.head, sums.tail: _*)
    }
    def vecOf(df: DataFrame): Column =
      array((0 until dims).map(i => col(s"_d$i")): _*)

    val f0 = cache(base.encode(frame, None).select(col("id"), col("vec")))
    var entF = f0
    var relF: Option[DataFrame] = None // rel features start at zero (:199)
    val channels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (!onlyNeighborInfo) channels += entF
    for (_ <- 1 to depth) {
      val relSums = dimAgg(
        relEnt.join(entF.select(col("id").as("src"), col("vec")), Seq("src"))
          .groupBy("r"), i => col("vec")(i))
      val newRel = cache(relSums.select(col("r"), l2(vecOf(relSums)).as("vec")))
      val neigh = dimAgg(
        entEnt.join(entF.select(col("id").as("dst"), col("vec")), Seq("dst"))
          .groupBy(col("src").as("id")), i => col("w") * col("vec")(i))
      val mixed = relF match {
        case Some(rf) =>
          val relMix = dimAgg(
            entRel.join(rf, Seq("r")).groupBy("id"), i => col("vec")(i))
            .select(col("id") +: (0 until dims).map(i => col(s"_d$i").as(s"_r$i")): _*)
          // relMix ids ⊆ neigh ids (both are edge endpoints) → left join
          neigh.join(relMix, Seq("id"), "left")
            .select(col("id") +: (0 until dims).map(i =>
              (col(s"_d$i") + coalesce(col(s"_r$i"), lit(0.0))).as(s"_d$i")): _*)
        case None => neigh
      }
      entF = cache(mixed.select(col("id"), l2(vecOf(mixed)).as("vec")))
      relF = Some(newRel)
      channels += entF
    }
    // assembly over the full id universe (f0): left joins + zero fill for
    // entities without propagation rows (disconnected nodes), concat,
    // row-local final normalization
    val zero = array_repeat(lit(0.0), lit(dims))
    val joined = channels.zipWithIndex
      .map { case (c, i) => c.select(col("id"), col("vec").as(s"_c$i")) }
      .foldLeft(f0.select(col("id")))((acc, c) => acc.join(c, Seq("id"), "left"))
    val catVec = concat(channels.indices.map(i => coalesce(col(s"_c$i"), zero)): _*)
    // one embedding row per entity — output-sized; release every round's
    // cached frame now (CacheScope contract)
    CacheScope.seal(
      joined.select(col("id"), l2(catVec).as("vec")), cachedFrames.toSeq: _*)
  }
}
