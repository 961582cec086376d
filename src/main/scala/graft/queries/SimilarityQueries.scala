package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blockers._
import graft.core.{Blocks, EntityFrame}
import graft.encoders.HashTokenEncoder
import graft.functions.{MinHash, Num, Text}
import graft.similarity.{IndexStore, Similarity}
import QueryDef.{blockRows, duckTokens, table}

/** Similarity layer (SURVEY.md §2.8): MinHash-LSH, TF-IDF filtering,
  * token overlap, vector kNN (brute/IVF/sign-LSH), cluster blocking,
  * SIF-weighted word-embedding pooling — all oracle-checked via the
  * deterministic md5 hash family.
  */
object SimilarityQueries {

  private def docSide(s: SparkSession, dir: String, parity: Int): EntityFrame =
    EntityFrame(
      table(s, dir, "documents").filter(col("doc_id") % 2 === parity)
        .select(col("doc_id"), col("text")),
      if (parity == 0) "docs_even" else "docs_odd", "doc_id")

  private def docTokensSql(parity: Int) =
    duckTokens("cast(doc_id AS varchar)", "text",
      s"(SELECT * FROM documents WHERE doc_id % 2 = $parity)")

  /** Like [[docTokensSql]] but over the doc_id % 10 subset the MLlib
    * MinHash query uses. */
  private def docTokensParitySql(parity: Int) =
    duckTokens("cast(doc_id AS varchar)", "text",
      s"(SELECT * FROM documents WHERE doc_id % 10 = $parity)")

  /** `lt`/`rt`: the distinct (id, key) tokens of the even/odd document
    * sides, as the opening of a WITH chain. */
  private val docTokenSidesCtes: String =
    s"""WITH lt AS (SELECT DISTINCT * FROM (${docTokensSql(0)})),
       |rt AS (SELECT DISTINCT * FROM (${docTokensSql(1)}))""".stripMargin

  private def embs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")

  /** The exact-hierarchy fixture (m11_hdbscan_exact / m11_hdbscan_auto):
    * 27 points of known 1-D geometry in a 2-vector, all coordinates
    * exact binary fractions, SF-independent. Two tight 6-chains @0.25
    * (x=0, x=4), two tight 5-chains @0.25 (x=10, x=14), one loose
    * 5-chain @1.0 (x=20). With minPts=2 the COMPLETE mutual-reach
    * radius set and the per-point first-connection radii are both
    * known in closed form (the two rows' oracle comments). */
  private def chainFixture(s: SparkSession): DataFrame = {
    val i = col("i")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val x =
      when(i < 6, d(i) * 0.25)
        .when(i < 12, lit(4.0) + d(i - 6) * 0.25)
        .when(i < 17, lit(10.0) + d(i - 12) * 0.25)
        .when(i < 22, lit(14.0) + d(i - 17) * 0.25)
        .otherwise(lit(20.0) + d(i - 22) * 1.0)
    s.range(0, 27).select(col("id").cast("int").as("i"))
      .select(format_string("e%02d", col("i")).as("id"),
        array(x, lit(0.0)).as("vec"))
  }

  private val chainFixtureSql: String =
    """SELECT printf('e%02d', i) AS id,
      |  [CASE WHEN i < 6 THEN i * 0.25
      |        WHEN i < 12 THEN 4.0 + (i - 6) * 0.25
      |        WHEN i < 17 THEN 10.0 + (i - 12) * 0.25
      |        WHEN i < 22 THEN 14.0 + (i - 17) * 0.25
      |        ELSE 20.0 + (i - 22) * 1.0 END, 0.0] AS embedding
      |FROM range(27) t(i)""".stripMargin

  /** The even/odd vec_id sides every embedding kNN query searches:
    * even ids query, odd ids are the corpus. */
  private[queries] def evenOdd(e: DataFrame): (DataFrame, DataFrame) =
    (e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec")),
     e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"), col("embedding").as("vec")))

  /** The IVF sides: even-id queries and the odd-id corpus bucketed by
    * its precomputed label. */
  private def ivfSides(e: DataFrame): (DataFrame, DataFrame) =
    (evenOdd(e)._1,
     e.filter(col("vec_id") % 2 === 1)
      .select(col("label").cast("string").as("bucket"),
        col("vec_id").as("id"), col("embedding").as("vec")))

  /** The m13 family's shared candidate construction: even/odd vec_id
    * sides and the top-10 cosine candidate graph. DisSimLocal needs the
    * side frames too (its σ terms read the VECTORS), so all three are
    * exposed — every m13 query derives from this one definition. */
  private def m13Sides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (l, r) = evenOdd(embs(s, dir))
    (l, r, Similarity.topKCosine(l, r, 10))
  }

  private def m13Candidates(s: SparkSession, dir: String): DataFrame =
    m13Sides(s, dir)._3

  /** A ranked kNN result as (left_id, rank, right_id, score) rows with
    * the score rounded to 6 places, ordered by (left_id, rank). */
  private def topRows(ranked: DataFrame, score: String): DataFrame =
    ranked.select(col("left_id"), col("rank"), col("right_id"),
        Num.stableRound(col(score), 6).as(score))
      .orderBy("left_id", "rank")

  // ---- DuckDB replay fragments -------------------------------------------
  // Each chain below is written once and interpolated into every oracle
  // that replays it; parameters carry only what differs between callers.

  /** CTE `name(cols…, i, v)`: embeddings exploded to one row per
    * 1-based dimension, restricted by `where` (" WHERE …" or ""). */
  private def explCte(name: String, cols: String = "vec_id", where: String = ""): String =
    s"""$name AS (
       |  SELECT $cols, i.i AS i, embedding[i.i]::double AS v
       |  FROM embeddings, range(1, 65) i(i)$where)""".stripMargin

  /** CTE `name(vec_id, nrm)`: L2 norms of an exploded CTE. */
  private def normsCte(name: String, expl: String): String =
    s"$name AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM $expl GROUP BY vec_id)"

  /** CTE `name(left_id, right_id, dot)`: every even × odd dot product
    * over `expl`. */
  private def evenOddDotsCte(name: String): String =
    s"""$name AS (
       |  SELECT a.vec_id AS left_id, b.vec_id AS right_id, sum(a.v * b.v) AS dot
       |  FROM expl a JOIN expl b ON a.i = b.i
       |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1 GROUP BY 1, 2)""".stripMargin

  /** `expl`, `norms` and the even × odd dot products `dots`. */
  private[queries] def evenOddDotsCtes(explCols: String, dots: String): String =
    s"""${explCte("expl", explCols)},
       |${normsCte("norms", "expl")},
       |${evenOddDotsCte(dots)}""".stripMargin

  /** [[evenOddDotsCtes]] plus `scored(left_id, right_id, cos)`. */
  private val cosScoredCtes: String =
    s"""${evenOddDotsCtes("vec_id", "dots")},
       |scored AS (
       |  SELECT left_id, right_id, dot / (na.nrm * nb.nrm) AS cos
       |  FROM dots JOIN norms na ON na.vec_id = left_id
       |            JOIN norms nb ON nb.vec_id = right_id)""".stripMargin

  /** The DuckDB side of [[m13Candidates]]: CTE chain ending in
    * `cand(left_id, right_id, cos)` — prepend as `WITH $knnCandCtesSql,
    * ...`. */
  private val knnCandCtesSql: String =
    s"""$cosScoredCtes,
       |cand AS (
       |  SELECT left_id, right_id, cos FROM (
       |    SELECT left_id, right_id, cos, row_number() OVER (
       |      PARTITION BY left_id ORDER BY cos DESC, right_id ASC) AS r
       |    FROM scored) WHERE r <= 10)""".stripMargin

  /** Top-3 per left_id of `from` by `score` descending, then the output
    * select with `score` rounded to 6 places. */
  private def top3Sql(score: String, from: String): String =
    s"""ranked AS (SELECT left_id, right_id, $score, row_number() OVER (
       |    PARTITION BY left_id ORDER BY $score DESC, right_id ASC) AS rank
       |  FROM $from)
       |SELECT left_id, rank::int AS rank, right_id, floor(($score) * 1e6 + 0.5) / 1e6 AS $score
       |FROM ranked WHERE rank <= 3 ORDER BY left_id, rank""".stripMargin

  /** The hubness re-rank tail over `sc`: top-3 by the ROUNDED `score`
    * in `order` ("ASC", "DESC", or with further keys). */
  private def rerankTop3Sql(score: String, order: String): String =
    s"""ranked AS (SELECT left_id, right_id, $score, row_number() OVER (
       |    PARTITION BY left_id
       |    ORDER BY floor(($score) * 1e6 + 0.5) / 1e6 $order, right_id ASC) AS rank
       |  FROM sc)
       |SELECT left_id, rank::int AS rank, right_id,
       |       floor(($score) * 1e6 + 0.5) / 1e6 AS $score
       |FROM ranked WHERE rank <= 3 ORDER BY left_id, rank""".stripMargin

  /** Rank window + norm joins of a cosine top-k over `dots`; the caller
    * writes the CTE head and its select list. */
  private val cosRankOverDots: String =
    """         row_number() OVER (PARTITION BY left_id
      |             ORDER BY dot / (na.nrm * nb.nrm) DESC, right_id ASC) AS rank
      |  FROM dots JOIN norms na ON na.vec_id = left_id
      |            JOIN norms nb ON nb.vec_id = right_id)""".stripMargin

  /** CTE `name(key…, left_id, right_id)`: the top-3 right_ids per
    * (key…, left_id) of `dots` by cosine; `key` is "" or "p, ". */
  private def top3IdsCte(name: String, dots: String, key: String): String =
    s"""$name AS (SELECT ${key}left_id, right_id FROM (
       |  SELECT ${key}left_id, right_id, row_number() OVER (PARTITION BY ${key}left_id
       |      ORDER BY dot / (na.nrm * nb.nrm) DESC, right_id ASC) AS rk
       |  FROM $dots JOIN norms na ON na.vec_id = left_id
       |             JOIN norms nb ON nb.vec_id = right_id) WHERE rk <= 3)""".stripMargin

  /** Centroids `cents(label, i, c)` of an exploded CTE and their norms
    * `cnorms(label, nrm)`. */
  private def centroidCtes(expl: String): String =
    s"""cents AS (SELECT label, i, avg(v) AS c FROM $expl GROUP BY label, i),
       |cnorms AS (SELECT label, sqrt(sum(c*c)) AS nrm FROM cents GROUP BY label)""".stripMargin

  /** The open subquery ranking each vector's centroids by cosine: rows
    * of `dots` aliased `a` (vec_id, label, dot), norms from `norms`;
    * `extra` adds columns before the rank. Close with a `WHERE rn …`. */
  private def cellRankSql(dots: String, norms: String, a: String, extra: String = ""): String =
    s"""  SELECT $a.vec_id, $a.label, ${extra}row_number() OVER (PARTITION BY $a.vec_id
       |      ORDER BY $a.dot / (n.nrm * cn.nrm) DESC, $a.label::varchar ASC) AS rn
       |  FROM $dots $a JOIN $norms n ON n.vec_id = $a.vec_id
       |               JOIN cnorms cn ON cn.label = $a.label)""".stripMargin

  /** The IVF query side: even vectors `qexpl`, norms `qnorms`, and
    * `qdots(vec_id, label, dot)` against every centroid in `cents`. */
  private val ivfQueryCtes: String =
    s"""${explCte("qexpl", where = " WHERE vec_id % 2 = 0")},
       |${normsCte("qnorms", "qexpl")},
       |qdots AS (
       |  SELECT e.vec_id, c.label, sum(e.v * c.c) AS dot
       |  FROM qexpl e JOIN cents c ON e.i = c.i GROUP BY 1, 2)""".stripMargin

  /** `assign(left_id, label)`: each query's single nearest cell. */
  private val ivfAssignCte: String =
    s"""assign AS (SELECT vec_id AS left_id, label FROM (
       |${cellRankSql("qdots", "qnorms", "q")} WHERE rn = 1)""".stripMargin

  /** Odd-id corpus `oexpl` with its label, and its centroids. */
  private val oddCentroidCtes: String =
    s"""${explCte("oexpl", "vec_id, label", " WHERE vec_id % 2 = 1")},
       |${centroidCtes("oexpl")}""".stripMargin

  /** CTE `g(cols…, s, c, dist)`: squared distance of every subvector to
    * every PQ codeword, rounded 1e-6; `tail` is the grouping clause. */
  private def pqDistCte(cols: String, tail: String): String =
    s"""g AS (
       |  SELECT $cols, s.s AS s, c.c AS c,
       |         floor((sum(power(embedding[s.s*8 + d.d + 1]::double
       |             - ${Similarity.pqComponentSql("s.s", "c.c", "d.d")}), 2))) * 1e6 + 0.5) / 1e6 AS dist
       |  FROM embeddings, range(0, 8) s(s), range(0, 16) c(c), range(0, 8) d(d)
       |  $tail)""".stripMargin

  /** CTE `name(out…, s, c)`: the nearest codeword per (vec_id, s) of
    * `g`, whose rows carry `cols`. */
  private def pqCodesCte(name: String, out: String, cols: String): String =
    s"""$name AS (
       |  SELECT $out, s, c FROM (
       |    SELECT $cols, s, c, row_number() OVER (
       |        PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
       |    FROM g) WHERE rn = 1)""".stripMargin

  /** CTE `lut(left_id, s, c, part)`: each even query's subvector dot
    * with every codeword — the ADC lookup table. */
  private val pqLutCte: String =
    s"""lut AS (
       |  SELECT vec_id AS left_id, s.s AS s, c.c AS c,
       |         sum(embedding[s.s*8 + d.d + 1]::double
       |             * ${Similarity.pqComponentSql("s.s", "c.c", "d.d")})) AS part
       |  FROM embeddings, range(0, 8) s(s), range(0, 16) c(c), range(0, 8) d(d)
       |  WHERE vec_id % 2 = 0 GROUP BY 1, 2, 3)""".stripMargin

  /** Top-3 per left_id of `scored` by rounded ADC score, and the output
    * select. */
  private val adcTop3Sql: String =
    """ranked AS (
      |  SELECT left_id, right_id, adc, row_number() OVER (
      |      PARTITION BY left_id
      |      ORDER BY floor((adc) * 1e6 + 0.5) / 1e6 DESC, right_id ASC) AS rank
      |  FROM scored)
      |SELECT left_id, rank::int AS rank, right_id, floor((adc) * 1e6 + 0.5) / 1e6 AS adc
      |FROM ranked WHERE rank <= 3 ORDER BY left_id, rank""".stripMargin

  /** The IVF-PQ probe: ADC over the codes in each query's assigned cell,
    * then [[adcTop3Sql]]. */
  private val ivfAdcTop3Sql: String =
    s"""scored AS (
       |  SELECT a.left_id, cd.right_id, sum(l.part) AS adc
       |  FROM assign a
       |  JOIN codes cd ON cd.label = a.label
       |  JOIN lut l ON l.left_id = a.left_id AND l.s = cd.s AND l.c = cd.c
       |  GROUP BY 1, 2),
       |$adcTop3Sql""".stripMargin

  /** The IVF self-probe head shared by the label-bucket queries: every
    * vector (with its label) probes the label centroids. Ends with a
    * comma; the caller continues with its `assign`. */
  private val ivfSelfProbeCtes: String =
    s"""WITH ${explCte("expl", "vec_id, label")},
       |cents AS (SELECT label, i, avg(v) AS c FROM expl GROUP BY label, i),
       |${normsCte("norms", "expl")},
       |cnorms AS (SELECT label, sqrt(sum(c*c)) AS nrm FROM cents GROUP BY label),
       |qdots AS (
       |  SELECT e.vec_id, c.label, sum(e.v * c.c) AS dot
       |  FROM expl e JOIN cents c ON e.i = c.i GROUP BY 1, 2),""".stripMargin

  /** Over the point table `e(id, embedding)`: rounded pairwise
    * distances `d` (`mat` is "" or " MATERIALIZED") and each point's
    * 3rd-nearest distance `core(id, c)`, left open after its `WHERE r = 3`
    * for the caller's eps bound and close. */
  private def fixtureCoreSql(mat: String): String =
    s"""expl AS (SELECT id, unnest(embedding)::double AS v,
       |                generate_subscripts(embedding, 1) AS i FROM e),
       |d AS$mat (SELECT a.id AS ia, b.id AS ib,
       |        floor(sqrt(sum((ea.v - eb.v) * (ea.v - eb.v))) * 1e6 + 0.5) / 1e6 AS d
       |      FROM e a JOIN e b ON a.id <> b.id
       |      JOIN expl ea ON ea.id = a.id
       |      JOIN expl eb ON eb.id = b.id AND eb.i = ea.i
       |      GROUP BY 1, 2),
       |core AS (SELECT ia AS id, d AS c FROM (
       |    SELECT ia, d, row_number() OVER (PARTITION BY ia ORDER BY d ASC, ib ASC) AS r
       |    FROM d) WHERE r = 3""".stripMargin

  /** The near-dup output select over `dots(id_a, id_b, dot)`: pairs
    * at cosine ≥ 0.4, rounded. */
  private val nearDupCosSelect: String =
    """SELECT id_a, id_b, floor((dot / (na.nrm * nb.nrm)) * 1e6 + 0.5) / 1e6 AS cos
      |FROM dots JOIN norms na ON na.vec_id = id_a
      |          JOIN norms nb ON nb.vec_id = id_b
      |WHERE dot / (na.nrm * nb.nrm) >= 0.4 ORDER BY id_a, id_b""".stripMargin

  /** The recall queries' middle: the exact top-3 `brute` over `bdots`,
    * odd-id centroids, and every even query's centroid dots `qdots`.
    * Ends with a comma; the caller continues with its `assign`. */
  private val ivfRecallProbeCtes: String =
    s"""${top3IdsCte("brute", "bdots", "")},
       |oddexpl AS (SELECT * FROM expl WHERE vec_id % 2 = 1),
       |${centroidCtes("oddexpl")},
       |qdots AS (
       |  SELECT e.vec_id, c.label, sum(e.v * c.c) AS dot
       |  FROM expl e JOIN cents c ON e.i = c.i
       |  WHERE e.vec_id % 2 = 0 GROUP BY 1, 2),""".stripMargin

  /** IVF-PQ top-k oracle — shared by `ann_ivf_pq_topk` (direct operator)
    * and `ann_ivf_pq_saved` (build -> save -> load -> search round-trip):
    * identical semantics by construction, so one SQL serves both. */
  private val ivfPqTopkSql: String =
    s"""WITH $oddCentroidCtes,
       |$ivfQueryCtes,
       |$ivfAssignCte,
       |${pqDistCte("vec_id, label", "WHERE vec_id % 2 = 1 GROUP BY 1, 2, 3, 4")},
       |${pqCodesCte("codes", "vec_id AS right_id, label", "vec_id, label")},
       |$pqLutCte,
       |$ivfAdcTop3Sql""".stripMargin

  /** SIF token statistics: document tokens `toks`, per-token `counts`
    * and the corpus `total`. */
  private val sifCountsCtes: String =
    s"""WITH toks AS (${duckTokens("doc_id", "text", "documents", 3)}),
       |counts AS (SELECT key, count(*) AS freq FROM toks GROUP BY key),
       |total AS (SELECT count(*)::double AS t FROM toks)""".stripMargin

  /** [[sifCountsCtes]] plus `weighted(id, x, w)`: each token's hash and
    * SIF weight a/(a + freq/total), a = 1e-3. */
  private val sifWeightedCtes: String =
    s"""$sifCountsCtes,
       |weighted AS (
       |  SELECT toks.id, ${HashTokenEncoder.tokenHashSql("toks.key")} AS x,
       |         0.001 / (0.001 + counts.freq / total.t) AS w
       |  FROM toks JOIN counts USING (key), total)""".stripMargin

  /** The SIF-weighted mean of the first `n` hash dimensions, rounded. */
  private def sifDimsSql(n: Int): String =
    (0 until n).map(d =>
      s"floor((sum(w * ${HashTokenEncoder.dimValueSql("x", d)}) / sum(w)) * 1e6 + 0.5) / 1e6 AS d$d")
      .mkString(", ")

  /** [[sifWeightedCtes]] plus the 2-dim SIF embedding `emb(doc_id, d0,
    * d1)` and its unit first principal component `pcn(px, py)` in
    * closed form: λ = ((gxx+gyy)+√((gxx−gyy)²+4gxy²))/2, v ∝ (gxy, λ−gxx). */
  private val sifPcCtes: String = {
    def h(d: Int) = HashTokenEncoder.dimValueSql("x", d)
    s"""$sifWeightedCtes,
       |emb AS (
       |  SELECT id AS doc_id,
       |         sum(w * ${h(0)}) / sum(w) AS d0,
       |         sum(w * ${h(1)}) / sum(w) AS d1
       |  FROM weighted GROUP BY id),
       |g AS (SELECT sum(d0*d0) AS gxx, sum(d0*d1) AS gxy, sum(d1*d1) AS gyy FROM emb),
       |pc AS (SELECT
       |  CASE WHEN gxy = 0 THEN (CASE WHEN gxx >= gyy THEN 1.0 ELSE 0.0 END)
       |       ELSE gxy END AS vx,
       |  CASE WHEN gxy = 0 THEN (CASE WHEN gxx >= gyy THEN 0.0 ELSE 1.0 END)
       |       ELSE ((gxx+gyy) + sqrt((gxx-gyy)*(gxx-gyy) + 4*gxy*gxy))/2 - gxx END AS vy
       |  FROM g),
       |pcn AS (SELECT vx/sqrt(vx*vx+vy*vy) AS px, vy/sqrt(vx*vx+vy*vy) AS py FROM pc)""".stripMargin
  }

  /** Blocks from the per-side keyed rows `left` and `right` (id, key):
    * comma-joined sorted id lists per key present on both sides. */
  private def blockJoinSql(left: String, right: String): String =
    s"""lb AS (SELECT key, array_to_string(list_sort(list(DISTINCT id)), ',') AS left_ids
       |       FROM $left GROUP BY key),
       |rb AS (SELECT key, array_to_string(list_sort(list(DISTINCT id)), ',') AS right_ids
       |       FROM $right GROUP BY key)
       |SELECT key AS block_key, left_ids, right_ids
       |FROM lb JOIN rb USING (key) ORDER BY block_key""".stripMargin

  /** DuckDB replay of the SIF-pooled 8-dim embedding — shared by
    * `m4_sif_embedding` (direct) and `s7_embedding_cache` (the same
    * vectors routed through the save/load cache round-trip). */
  private val sifEmbeddingOracleSql: String =
    s"""$sifWeightedCtes
       |SELECT id AS doc_id, ${sifDimsSql(8)}
       |FROM weighted GROUP BY id ORDER BY doc_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- M1/J9: MinHash-LSH blocker ---------------------------------------
    "mh_minhash_lsh_blocker" -> QueryDef(
      (s, dir) => blockRows(MinHashLSHBlocker(numPerm = 16, bands = 4)
        .assign(docSide(s, dir, 0), docSide(s, dir, 1))),
      Some {
        def side(parity: Int) = {
          val sig = MinHash.signatureSql(
            s"SELECT DISTINCT * FROM (${docTokensSql(parity)})", 16)
          MinHash.bandBucketsSql(sig, 4, 4)
        }
        s"""WITH lb AS (
           |  SELECT key, array_to_string(list_sort(list(DISTINCT id)), ',') AS left_ids
           |  FROM (${side(0)}) GROUP BY key),
           |rb AS (
           |  SELECT key, array_to_string(list_sort(list(DISTINCT id)), ',') AS right_ids
           |  FROM (${side(1)}) GROUP BY key)
           |SELECT key AS block_key, left_ids, right_ids
           |FROM lb JOIN rb USING (key) ORDER BY block_key""".stripMargin
      },
      api = "MinHashLSHBlocker.assign",
      desc = "MinHash-LSH blocking: per-entity signatures → banded bucket keys → bucket equi-join; (b,r) from the datasketch threshold rule."),

    // ---- M1 (MLlib variant): approxSimilarityJoin — invariant-graded ------
    // Seeded MLlib hashes aren't SQL-reproducible, so the query emits a
    // ONE-ROW invariant summary the oracle CAN hash-check: deterministic
    // counts (exact-jaccard gold pairs, featurizable side size) plus
    // booleans for exact precision (the capped path verifies true
    // token-set jaccard, so emitted pairs ⊆ gold BY CONSTRUCTION — this
    // checks the wiring) and a pinned LSH recall floor. Subset + tight
    // threshold as before: the OR-amplified candidate contract is
    // recall-heavy on this dense corpus; the hot-bucket cap is a no-op at
    // this SF but is the guard the 100 TB path needs.
    "mh_mllib_minhash_blocker" -> QueryDef(
      (s, dir) => {
        def sideDf(parity: Int) = table(s, dir, "documents")
          .filter(col("doc_id") % 10 === parity)
          .select(col("doc_id"), col("text"))
        def side(parity: Int) = EntityFrame(sideDf(parity), s"docs_$parity", "doc_id")
        val b = MlLibMinHashBlocker(jaccardThreshold = 0.9, numHashTables = 4,
            maxBlockComparisons = 1000000L)
          .assign(side(0), side(1))
        val pairs = b.df
          .select(col(Blocks.KeyCol).as("r"), explode(col(Blocks.LeftCol)).as("l"))
          .persist()
        // exact distinct-token sets per side (the blocker's own tokenizer)
        def toks(parity: Int, idc: String) = sideDf(parity)
          .select(col("doc_id").cast("string").as(idc),
            explode(array_distinct(Text.tokenize(col("text")))).as("key"))
        val lt = toks(0, "l").persist()
        val rt = toks(1, "r").persist()
        val szl = lt.groupBy("l").agg(count(lit(1)).as("szl"))
        val szr = rt.groupBy("r").agg(count(lit(1)).as("szr"))
        val gold = lt.join(rt, Seq("key"))
          .groupBy("l", "r").agg(count(lit(1)).as("i"))
          .join(szl, Seq("l")).join(szr, Seq("r"))
          .filter(col("i").cast("double") / (col("szl") + col("szr") - col("i")) >= 0.9)
          .select("l", "r").persist()
        val nTp = pairs.join(gold, Seq("l", "r"), "left_semi")
          .agg(count(lit(1)).as("n_tp"))
        val nFalse = pairs.join(gold, Seq("l", "r"), "left_anti")
          .agg(count(lit(1)).as("n_false"))
        graft.core.CacheScope.seal(
          gold.agg(count(lit(1)).as("n_gold"))
            .crossJoin(lt.select("l").distinct().agg(count(lit(1)).as("n_left")))
            .crossJoin(nTp).crossJoin(nFalse)
            .select(col("n_gold"), col("n_left"),
              (col("n_false") === 0).as("precision_ok"),
              // LSH recall vs exact gold — floor pinned from measured
              // 1.0/1.0/1.0 at sf0.001/0.01/0.1 (P(miss) ≤ (1−0.9)⁴ per pair)
              (col("n_tp").cast("double") / col("n_gold") >= 0.95).as("recall_ok")),
          pairs, lt, rt, gold) // one-row output; release the caches
      },
      Some {
        def toksSql(parity: Int) =
          s"SELECT DISTINCT * FROM (${docTokensParitySql(parity)})"
        s"""WITH lt AS (${toksSql(0)}),
           |rt AS (${toksSql(1)}),
           |szl AS (SELECT id, count(*) AS sz FROM lt GROUP BY id),
           |szr AS (SELECT id, count(*) AS sz FROM rt GROUP BY id),
           |inter AS (
           |  SELECT lt.id AS l, rt.id AS r, count(*) AS i
           |  FROM lt JOIN rt USING (key) GROUP BY 1, 2),
           |g AS (
           |  SELECT l, r FROM inter
           |  JOIN szl ON szl.id = l JOIN szr ON szr.id = r
           |  WHERE i::double / (szl.sz + szr.sz - i) >= 0.9)
           |SELECT (SELECT count(*) FROM g) AS n_gold,
           |       (SELECT count(DISTINCT id) FROM lt) AS n_left,
           |       true AS precision_ok, true AS recall_ok""".stripMargin
      },
      api = "MlLibMinHashBlocker.assign",
      desc = "MLlib MinHashLSH approxSimilarityJoin wrapped as a blocker — invariant-graded oracle (library RNG is not SQL-replayable)."),

    // ---- M3: TF-IDF filtered token blocker --------------------------------
    "m3_tfidf_token_blocker" -> QueryDef(
      (s, dir) => blockRows(TfIdfFilteredTokenBlocker(threshold = 0.15)
        .assign(docSide(s, dir, 0), docSide(s, dir, 1))),
      Some {
        val blocker = TfIdfFilteredTokenBlocker(threshold = 0.15)
        def side(parity: Int) = blocker.filteredTokensSql(docTokensSql(parity))
        s"""WITH lk AS (${side(0)}), rk AS (${side(1)}),
           |${blockJoinSql("lk", "rk")}""".stripMargin
      },
      api = "TfIdfFilteredTokenBlocker.assign",
      desc = "Token blocking restricted to each entity's top TF-IDF tokens (M3) — IDF from one doc-frequency agg, threshold filter before the join.",
      auditAllow = Some("one-row document-count total crossJoin(broadcast) for smooth idf (SimilarityBlockers.filteredTokens)")),

    // ---- J10/M2: token-overlap counts -------------------------------------
    "j10_token_overlap" -> QueryDef(
      (s, dir) => {
        // The join stream is |Σ nl·nr| rows (dense worst case on this
        // corpus: small shared vocabulary ⇒ every doc pair co-occurs;
        // 108M rows at sf0.1). The broadcast-vs-shuffle choice lives in
        // PartitioningTokenBlocker.overlapPairs: the right token stream
        // is measured, broadcast under the size threshold (preserving the
        // left side's explicit pre-partitioning through the join — the
        // aggregate runs in one stage, no post-blowup exchange), and
        // shuffled on the token key with the hot-token cap above it.
        // Group keys are the two long columns directly.
        val lt = TokenBlocker().tokens(docSide(s, dir, 0))
          .select(col("key"), col("id").cast("long").as("id"))
        val rt = TokenBlocker().tokens(docSide(s, dir, 1))
          .select(col("key"), col("id").cast("long").as("rid"))
        PartitioningTokenBlocker(minOverlap = 10).overlapPairs(lt, rt)
          .select(col("id").cast("string").as("left_id"),
            col("rid").cast("string").as("right_id"), col("overlap"))
          .orderBy("left_id", "right_id")
      },
      Some(s"""$docTokenSidesCtes
              |SELECT lt.id AS left_id, rt.id AS right_id, count(*) AS overlap
              |FROM lt JOIN rt USING (key)
              |GROUP BY 1, 2 HAVING count(*) >= 10 ORDER BY 1, 2""".stripMargin),
      api = "PartitioningTokenBlocker.assign",
      desc = "Sparse token-overlap product (M2/J10): candidates from the token equi-join, overlap counted per pair; size-switched broadcast vs shuffle join with hot-token cap."),

    // ---- J8/W4: brute-force kNN (cosine top-3, even → odd) ----------------
    "ann_brute_topk" -> QueryDef(
      (s, dir) => {
        val (l, r) = evenOdd(embs(s, dir))
        topRows(Similarity.topKCosine(l, r, 3), "cos")
      },
      Some(s"WITH $cosScoredCtes,\n${top3Sql("cos", "scored")}"),
      api = "Similarity.topKCosine",
      desc = "Brute-force cosine top-k over embeddings — the exact ANN baseline (codegen'd dot product, per-query window).",
      auditAllow = Some("documented exact baseline: brute-force cosine over a broadcast query side")),

    // ---- M13: CSLS hubness-reduced kNN over brute candidates --------------
    // candidate stream = exact top-10 (so the candidate-graph scales are
    // reproducible in SQL); scaleK = 5, final k = 3
    "m13_csls_knn" -> QueryDef(
      (s, dir) => topRows(
        Similarity.cslsRerank(m13Candidates(s, dir), k = 3, scaleK = 5), "csls"),
      Some(s"""WITH $knnCandCtesSql,
             |rl AS (
             |  SELECT left_id, avg(cos) AS rq FROM (
             |    SELECT left_id, cos, row_number() OVER (
             |      PARTITION BY left_id ORDER BY cos DESC, right_id ASC) AS r
             |    FROM cand) WHERE r <= 5 GROUP BY left_id),
             |rr AS (
             |  SELECT right_id, avg(cos) AS rt FROM (
             |    SELECT right_id, cos, row_number() OVER (
             |      PARTITION BY right_id ORDER BY cos DESC, left_id ASC) AS r
             |    FROM cand) WHERE r <= 5 GROUP BY right_id),
             |cs AS (
             |  SELECT c.left_id, c.right_id, 2 * c.cos - rl.rq - rr.rt AS csls
             |  FROM cand c JOIN rl USING (left_id) JOIN rr USING (right_id)),
             |${top3Sql("csls", "cs")}""".stripMargin),
      api = "Similarity.cslsRerank",
      desc = "CSLS hubness-corrected kNN (M13): mean neighbor similarity both directions re-scores the top-k."),

    // ---- M13 non-CSLS hubness reduction (kiez parity) ---------------------
    // the other reduction methods kiez layers over any NN algorithm
    // (reference blockers/embedding/blockbuilder.py:107-167): NICDM
    // (mean-local-scale distance rescale), local scaling (exp kernel on
    // the scaleK-th NN distance), and empiric mutual proximity (pure
    // rank-based joint farther-probability). All share the brute top-10
    // candidate graph with m13_csls_knn.
    "m13_nicdm_knn" -> QueryDef(
      (s, dir) => topRows(Similarity.nicdmRerank(m13Candidates(s, dir), k = 3,
        scaleK = 5, rankScale = 6), "nicdm"),
      Some(s"""WITH $knnCandCtesSql,
             |mul AS (
             |  SELECT left_id, avg(1 - cos) AS mq FROM (
             |    SELECT left_id, cos, row_number() OVER (
             |      PARTITION BY left_id ORDER BY (1 - cos) ASC, right_id ASC) AS r
             |    FROM cand) WHERE r <= 5 GROUP BY left_id),
             |mur AS (
             |  SELECT right_id, avg(1 - cos) AS mt FROM (
             |    SELECT right_id, cos, row_number() OVER (
             |      PARTITION BY right_id ORDER BY (1 - cos) ASC, left_id ASC) AS r
             |    FROM cand) WHERE r <= 5 GROUP BY right_id),
             |sc AS (
             |  SELECT c.left_id, c.right_id,
             |         CASE WHEN mul.mq * mur.mt <= 0 THEN 1 - c.cos
             |              ELSE (1 - c.cos) / sqrt(mul.mq * mur.mt) END AS nicdm
             |  FROM cand c JOIN mul USING (left_id) JOIN mur USING (right_id)),
             |${rerankTop3Sql("nicdm", "ASC")}""".stripMargin),
      api = "Similarity.nicdmRerank",
      desc = "NICDM hubness reduction (M13, kiez 'nicdm'): distances rescaled by sqrt of both endpoints' mean local distance scale over the candidate graph."),

    "m13_ls_knn" -> QueryDef(
      (s, dir) => topRows(Similarity.localScalingRerank(m13Candidates(s, dir),
        k = 3, scaleK = 5, rankScale = 6), "ls"),
      Some(s"""WITH $knnCandCtesSql,
             |sgl AS (
             |  SELECT left_id, (1 - cos) AS sq FROM (
             |    SELECT left_id, cos, row_number() OVER (
             |      PARTITION BY left_id ORDER BY (1 - cos) ASC, right_id ASC) AS r,
             |      count(*) OVER (PARTITION BY left_id) AS n
             |    FROM cand) WHERE r = least(5, n)),
             |sgr AS (
             |  SELECT right_id, (1 - cos) AS st FROM (
             |    SELECT right_id, cos, row_number() OVER (
             |      PARTITION BY right_id ORDER BY (1 - cos) ASC, left_id ASC) AS r,
             |      count(*) OVER (PARTITION BY right_id) AS n
             |    FROM cand) WHERE r = least(5, n)),
             |sc AS (
             |  SELECT c.left_id, c.right_id,
             |         CASE WHEN sgl.sq * sgr.st <= 0
             |              THEN CASE WHEN (1 - c.cos) <= 0 THEN 1.0 ELSE 0.0 END
             |              ELSE exp(-((1 - c.cos) * (1 - c.cos)) / (sgl.sq * sgr.st))
             |         END AS ls
             |  FROM cand c JOIN sgl USING (left_id) JOIN sgr USING (right_id)),
             |${rerankTop3Sql("ls", "DESC")}""".stripMargin),
      api = "Similarity.localScalingRerank",
      desc = "Local-scaling hubness reduction (M13, kiez 'ls'): exp(−d²/(σq·σx)) with σ = scaleK-th candidate distance each side."),

    "m13_mp_knn" -> QueryDef(
      (s, dir) => topRows(Similarity.mutualProximityRerank(m13Candidates(s, dir),
        k = 3, rankScale = 6), "mp"),
      Some(s"""WITH $knnCandCtesSql,
             |sc AS (
             |  SELECT left_id, right_id, cos,
             |         (((rank() OVER (PARTITION BY left_id ORDER BY cos ASC)) - 1)::double
             |           / (count(*) OVER (PARTITION BY left_id)))
             |         * (((rank() OVER (PARTITION BY right_id ORDER BY cos ASC)) - 1)::double
             |           / (count(*) OVER (PARTITION BY right_id))) AS mp
             |  FROM cand),
             |${rerankTop3Sql("mp", "DESC, cos DESC")}""".stripMargin),
      api = "Similarity.mutualProximityRerank",
      desc = "Empiric mutual proximity (M13, kiez 'mp'): joint farther-probability over both candidate views — pure rank arithmetic, density-immune."),

    // DisSimLocal (Hara et al. AAAI 2016 — kiez's "dsl", the vector-aware
    // member of its registry): ‖q−x‖² − ‖q−c(q)‖² − ‖x−c(x)‖² with local
    // centroids over the scaleK nearest candidate vectors (reverse view on
    // the right side). Completes the kiez method set: csls/nicdm/ls/mp/dsl.
    "m13_dsl_knn" -> QueryDef(
      (s, dir) => {
        val (l, r, cand) = m13Sides(s, dir)
        topRows(Similarity.dslRerank(cand, l, r, k = 3, scaleK = 5, rankScale = 6), "dsl")
      },
      Some(s"""WITH $knnCandCtesSql,
             |topl AS (
             |  SELECT left_id, right_id FROM (
             |    SELECT left_id, right_id, row_number() OVER (
             |      PARTITION BY left_id ORDER BY cos DESC, right_id ASC) AS r
             |    FROM cand) WHERE r <= 5),
             |cl AS (
             |  SELECT t.left_id, e.i, avg(e.v) AS c
             |  FROM topl t JOIN expl e ON e.vec_id = t.right_id GROUP BY 1, 2),
             |selfl AS (
             |  SELECT cl.left_id, sum((q.v - cl.c) * (q.v - cl.c)) AS sq
             |  FROM cl JOIN expl q ON q.vec_id = cl.left_id AND q.i = cl.i
             |  GROUP BY 1),
             |topr AS (
             |  SELECT left_id, right_id FROM (
             |    SELECT left_id, right_id, row_number() OVER (
             |      PARTITION BY right_id ORDER BY cos DESC, left_id ASC) AS r
             |    FROM cand) WHERE r <= 5),
             |cr AS (
             |  SELECT t.right_id, e.i, avg(e.v) AS c
             |  FROM topr t JOIN expl e ON e.vec_id = t.left_id GROUP BY 1, 2),
             |selfr AS (
             |  SELECT cr.right_id, sum((x.v - cr.c) * (x.v - cr.c)) AS st
             |  FROM cr JOIN expl x ON x.vec_id = cr.right_id AND x.i = cr.i
             |  GROUP BY 1),
             |d2 AS (
             |  SELECT c.left_id, c.right_id, sum((a.v - b.v) * (a.v - b.v)) AS d2
             |  FROM cand c JOIN expl a ON a.vec_id = c.left_id
             |              JOIN expl b ON b.vec_id = c.right_id AND b.i = a.i
             |  GROUP BY 1, 2),
             |sc AS (
             |  SELECT d2.left_id, d2.right_id, d2.d2 - selfl.sq - selfr.st AS dsl
             |  FROM d2 JOIN selfl USING (left_id) JOIN selfr USING (right_id)),
             |${rerankTop3Sql("dsl", "ASC")}""".stripMargin),
      api = "Similarity.dslRerank",
      desc = "DisSimLocal hubness reduction (M13, kiez 'dsl'): d² minus each endpoint's squared distance to its scaleK-candidate centroid — the vector-aware member, completing the kiez method set."),

    // ---- IVF kNN: label buckets, nearest-centroid probe -------------------
    "ann_ivf_label" -> QueryDef(
      (s, dir) => {
        val e = embs(s, dir)
        val bucketed = e.select(col("label").cast("string").as("bucket"),
          col("vec_id").as("id"), col("embedding").as("vec"))
        val q = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
        Similarity.ivfTopK(q, bucketed, 3)
          .select(col("left_id"), col("bucket"), col("rank"), col("right_id"),
            Num.stableRound(col("cos"), 6).as("cos"))
          .orderBy("left_id", "rank")
      },
      Some(s"""$ivfSelfProbeCtes
             |assign AS (SELECT vec_id, label FROM (
             |${cellRankSql("qdots", "norms", "q")} WHERE rn = 1),
             |dots AS (
             |  SELECT a.vec_id AS left_id, s.label, b.vec_id AS right_id,
             |         sum(a.v * b.v) AS dot
             |  FROM assign s JOIN expl a ON a.vec_id = s.vec_id
             |  JOIN expl b ON b.i = a.i AND b.label = s.label
             |  WHERE b.vec_id != a.vec_id GROUP BY 1, 2, 3),
             |ranked AS (
             |  SELECT left_id, label, right_id,
             |         dot / (na.nrm * nb.nrm) AS cos,
             |$cosRankOverDots
             |SELECT left_id, label::varchar AS bucket, rank::int AS rank, right_id,
             |       floor((cos) * 1e6 + 0.5) / 1e6 AS cos
             |FROM ranked WHERE rank <= 3 ORDER BY left_id, rank""".stripMargin),
      api = "Similarity.ivfTopK",
      desc = "IVF ANN: KMeans-free deterministic coarse centroids, candidates only from the query's nearest cells.",
      auditAllow = Some("centroid table broadcast (k rows)")),

    // ---- IVF multi-probe: top-2 centroid buckets searched ------------------
    "ann_ivf_multiprobe" -> QueryDef(
      (s, dir) => {
        val e = embs(s, dir)
        val bucketed = e.select(col("label").cast("string").as("bucket"),
          col("vec_id").as("id"), col("embedding").as("vec"))
        val q = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
        topRows(Similarity.ivfTopK(q, bucketed, 3, probes = 2), "cos")
      },
      Some(s"""$ivfSelfProbeCtes
             |assign AS (SELECT vec_id, label FROM (
             |${cellRankSql("qdots", "norms", "q")} WHERE rn <= 2),
             |dots AS (
             |  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
             |         sum(a.v * b.v) AS dot
             |  FROM assign s JOIN expl a ON a.vec_id = s.vec_id
             |  JOIN expl b ON b.i = a.i AND b.label = s.label
             |  WHERE b.vec_id != a.vec_id GROUP BY 1, 2),
             |ranked AS (
             |  SELECT left_id, right_id,
             |         dot / (na.nrm * nb.nrm) AS cos,
             |$cosRankOverDots
             |SELECT left_id, rank::int AS rank, right_id, floor((cos) * 1e6 + 0.5) / 1e6 AS cos
             |FROM ranked WHERE rank <= 3 ORDER BY left_id, rank""".stripMargin),
      api = "Similarity.ivfTopK",
      desc = "IVF with multiprobe: nprobe nearest cells per query widen recall at bounded candidate cost.",
      auditAllow = Some("centroid table broadcast (k rows)")),

    // ---- PQ encode: 64 float dims → 8 codebook ids ------------------------
    "ann_pq_encode" -> QueryDef(
      (s, dir) => Similarity.pqEncode(
          embs(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec")))
        .select(col("id"), array_join(col("codes"), ",").as("codes"))
        .orderBy("id"),
      Some(s"""WITH ${pqDistCte("vec_id", "GROUP BY 1, 2, 3")},
              |${pqCodesCte("best", "vec_id", "vec_id")}
              |SELECT vec_id AS id, string_agg(c, ',' ORDER BY s) AS codes
              |FROM best GROUP BY vec_id ORDER BY id""".stripMargin),
      api = "Similarity.pqEncode",
      desc = "Product-quantization encoding: per-subspace codebooks, embeddings → code bytes (the 100×-compression layout)."),

    // ---- PQ/ADC top-k: exact queries against the compressed corpus --------
    "ann_pq_adc_topk" -> QueryDef(
      (s, dir) => {
        val (q, r) = evenOdd(embs(s, dir))
        topRows(Similarity.pqTopK(q, Similarity.pqEncode(r), 3, rankScale = 6), "adc")
      },
      Some(s"""WITH ${pqDistCte("vec_id", "WHERE vec_id % 2 = 1 GROUP BY 1, 2, 3")},
              |${pqCodesCte("codes", "vec_id AS right_id", "vec_id")},
              |$pqLutCte,
              |scored AS (
              |  SELECT l.left_id, cd.right_id, sum(l.part) AS adc
              |  FROM codes cd JOIN lut l USING (s, c)
              |  GROUP BY 1, 2),
              |$adcTop3Sql""".stripMargin),
      api = "Similarity.pqTopK",
      desc = "PQ asymmetric-distance top-k: query-to-codebook lookup tables broadcast, scan costs table lookups not float ops.",
      auditAllow = Some("PQ codebook (k×m floats) broadcast to every partition")),

    // ---- IVF-PQ: probe nearest label bucket, ADC over its PQ codes --------
    "ann_ivf_pq_topk" -> QueryDef(
      (s, dir) => {
        val (q, bucketed) = ivfSides(embs(s, dir))
        topRows(Similarity.ivfPqTopK(q, bucketed, 3, rankScale = 6), "adc")
      },
      Some(ivfPqTopkSql),
      api = "Similarity.ivfPqTopK",
      desc = "IVF+PQ: coarse cells prune the corpus, PQ ADC ranks inside cells — the billion-scale ANN layout."),

    // ---- persisted IVF-PQ index: build -> save -> load -> search ----------
    // the serving contract: corpus-side work (centroids + PQ codes) is
    // done once and written as parquet; the query batch runs against the
    // LOADED artifacts only. Shares ann_ivf_pq_topk's oracle — the
    // round-trip must be bit-identical to the direct operator, and the
    // hash check proves it (parquet preserves doubles exactly).
    "ann_ivf_pq_saved" -> QueryDef(
      (s, dir) => {
        val (q, bucketed) = ivfSides(embs(s, dir))
        // per-run temp dir: two concurrent runs against the same dataset
        // must not race on one fixed path (cleanup is the tmp policy's —
        // the index must outlive this lambda because search scans the
        // saved parquet lazily, when the driver evaluates the result)
        val path = java.nio.file.Files
          .createTempDirectory("graft_ivfpq_index_").toString
        IndexStore.save(IndexStore.buildIvfPq(bucketed), path)
        topRows(IndexStore.search(q, IndexStore.load(s, path), 3, rankScale = 6), "adc")
      },
      Some(ivfPqTopkSql),
      api = "IndexStore.save/load/search",
      desc = "Persisted IVF-PQ index round-trip: centroids+codes built once, saved as parquet, reloaded and searched — bit-identical to the direct operator (shared oracle).",
      auditAllow = Some("loaded centroid table broadcast (one row per IVF bucket, tiny by construction)")),

    // ---- incremental ingest: assignBuckets -> appendIvfPq -> search -------
    // the daily-arrivals serving contract: the index is built on the base
    // corpus (odd ids with vec_id % 4 = 1), the delta (% 4 = 3) arrives
    // BUCKETLESS, is routed to its nearest existing IVF cell by
    // assignBuckets, and appendIvfPq encodes it against the FIXED base
    // geometry — only the delta pays encode cost. The oracle replays the
    // whole path: base-split centroids, nearest-centroid delta
    // assignment, PQ codes over the full odd corpus (bucket-independent
    // in non-residual mode), then the standard probe/ADC query plan.
    "ann_ivf_pq_append" -> QueryDef(
      (s, dir) => {
        val e = embs(s, dir)
        val q = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val base = e.filter(col("vec_id") % 4 === 1)
          .select(col("label").cast("string").as("bucket"),
            col("vec_id").as("id"), col("embedding").as("vec"))
        val delta = e.filter(col("vec_id") % 4 === 3)
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val baseIdx = IndexStore.buildIvfPq(base)
        val appended = IndexStore.appendIvfPq(baseIdx,
          IndexStore.assignBuckets(delta, baseIdx))
        topRows(IndexStore.search(q, appended, 3, rankScale = 6), "adc")
      },
      Some(s"""WITH ${explCte("bexpl", "vec_id, label", " WHERE vec_id % 4 = 1")},
              |${centroidCtes("bexpl")},
              |${explCte("dexpl", where = " WHERE vec_id % 4 = 3")},
              |${normsCte("dnorms", "dexpl")},
              |ddots AS (
              |  SELECT e.vec_id, c.label, sum(e.v * c.c) AS dot
              |  FROM dexpl e JOIN cents c ON e.i = c.i GROUP BY 1, 2),
              |dassign AS (SELECT vec_id, label FROM (
              |${cellRankSql("ddots", "dnorms", "d")} WHERE rn = 1),
              |buckets AS (
              |  SELECT vec_id, label FROM embeddings WHERE vec_id % 4 = 1
              |  UNION ALL SELECT vec_id, label FROM dassign),
              |$ivfQueryCtes,
              |$ivfAssignCte,
              |${pqDistCte("vec_id", "WHERE vec_id % 2 = 1 GROUP BY 1, 2, 3")},
              |codes AS (
              |  SELECT g2.vec_id AS right_id, b.label, g2.s, g2.c FROM (
              |    SELECT vec_id, s, c, row_number() OVER (
              |        PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
              |    FROM g) g2 JOIN buckets b ON b.vec_id = g2.vec_id
              |  WHERE g2.rn = 1),
              |$pqLutCte,
              |$ivfAdcTop3Sql""".stripMargin),
      api = "IndexStore.assignBuckets/appendIvfPq",
      desc = "Incremental index ingest: a bucketless delta routed to its nearest IVF cell, PQ-encoded against the FIXED base geometry and appended — O(delta) daily arrivals, oracle replays the full path.",
      auditAllow = Some("centroid table broadcast (one row per IVF bucket) for delta assignment + probe")),

    // ---- streaming ANN serving (batch form of the stateful operator) ------
    // same semantics as ann_ivf_pq_topk through the streaming-safe plan
    // (row-local probe selection, stream-static code join, fMGWS top-k);
    // MemoryStream parity lives in StreamingSpec. Shares the oracle.
    "st_ann_serve" -> QueryDef(
      (s, dir) => {
        implicit val sp: SparkSession = s
        val (q, bucketed) = ivfSides(embs(s, dir))
        topRows(graft.streaming.AnnServing
          .serveIvfPq(q, graft.similarity.IndexStore.buildIvfPq(bucketed),
            3, rankScale = 6)
          .toDF(), "adc")
      },
      Some(ivfPqTopkSql),
      api = "AnnServing.serveIvfPq",
      desc = "Streaming ANN serving against a static IVF-PQ index: row-local probe selection, stream-static code join, flatMapGroupsWithState top-k (no window) — stateless per micro-batch."),

    // ---- residual IVF-PQ: quantize v − centroid, score ⟨q,c⟩ + ADC --------
    // the production IVF-PQ layout (Jégou et al. §IV-A): the codebook's
    // resolution is spent on what the coarse quantizer missed; the score
    // adds the exact query–centroid dot back. Same probe/scoping plan as
    // ann_ivf_pq_topk — only the encode input and the score differ.
    "ann_ivf_pq_residual" -> QueryDef(
      (s, dir) => {
        val (q, bucketed) = ivfSides(embs(s, dir))
        topRows(Similarity.ivfPqTopK(q, bucketed, 3, rankScale = 6, residual = true), "adc")
      },
      Some(s"""WITH $oddCentroidCtes,
              |$ivfQueryCtes,
              |assign AS (SELECT vec_id AS left_id, label, dot FROM (
              |${cellRankSql("qdots", "qnorms", "q", "q.dot, ")} WHERE rn = 1),
              |g AS (
              |  SELECT e.vec_id, e.label, ((e.i - 1) // 8) AS s, c.c AS c,
              |         floor((sum(power((e.v - ct.c)
              |             - ${Similarity.pqComponentSql("((e.i - 1) // 8)", "c.c", "((e.i - 1) % 8)")}), 2))) * 1e6 + 0.5) / 1e6 AS dist
              |  FROM oexpl e JOIN cents ct ON ct.label = e.label AND ct.i = e.i,
              |       range(0, 16) c(c)
              |  GROUP BY 1, 2, 3, 4),
              |${pqCodesCte("codes", "vec_id AS right_id, label", "vec_id, label")},
              |$pqLutCte,
              |scored AS (
              |  SELECT a.left_id, cd.right_id, a.dot + sum(l.part) AS adc
              |  FROM assign a
              |  JOIN codes cd ON cd.label = a.label
              |  JOIN lut l ON l.left_id = a.left_id AND l.s = cd.s AND l.c = cd.c
              |  GROUP BY 1, 2, a.dot),
              |$adcTop3Sql""".stripMargin),
      api = "Similarity.ivfPqTopK",
      desc = "IVF+PQ on residuals (vector − centroid) — finer quantization at identical storage."),

    // ---- sign-LSH bucketing (first 16 dims, 6 planes) ---------------------
    "ann_hyperplane_lsh" -> QueryDef(
      (s, dir) => embs(s, dir)
        .select(col("vec_id"),
          Similarity.hyperplaneBucket(slice(col("embedding"), 1, 16), 6, 16).as("bucket"))
        .orderBy("vec_id"),
      Some(s"""SELECT vec_id, ${Similarity.hyperplaneBucketSql("embedding", 6, 16)} AS bucket
              |FROM embeddings ORDER BY vec_id""".stripMargin),
      api = "Similarity.hyperplaneBucket",
      desc = "Sign-LSH bucketing: md5-deterministic hyperplanes hash embeddings to bucket keys (SQL-replayable)."),

    // ---- sign-LSH kNN: bucket equi-join candidates + exact re-rank --------
    // the EmbeddingKnnBlocker SignLsh path, oracle-checked end-to-end
    // (buckets are md5-deterministic, so DuckDB regenerates them exactly)
    "ann_lsh_topk" -> QueryDef(
      (s, dir) => {
        val (l, r) = evenOdd(embs(s, dir))
        topRows(Similarity.lshTopK(l, r, 3, numPlanes = 4, planeDims = 16), "cos")
      },
      Some(s"""WITH buck AS (
              |  SELECT vec_id, ${Similarity.hyperplaneBucketSql("embedding", 4, 16)} AS b
              |  FROM embeddings),
              |${explCte("expl")},
              |${normsCte("norms", "expl")},
              |cand AS (
              |  SELECT l.vec_id AS left_id, r.vec_id AS right_id
              |  FROM buck l JOIN buck r ON l.b = r.b
              |  WHERE l.vec_id % 2 = 0 AND r.vec_id % 2 = 1),
              |dots AS (
              |  SELECT c.left_id, c.right_id, sum(a.v * b.v) AS dot
              |  FROM cand c JOIN expl a ON a.vec_id = c.left_id
              |              JOIN expl b ON b.vec_id = c.right_id AND b.i = a.i
              |  GROUP BY 1, 2),
              |ranked AS (
              |  SELECT left_id, right_id, dot / (na.nrm * nb.nrm) AS cos,
              |$cosRankOverDots
              |SELECT left_id, rank::int AS rank, right_id, floor((cos) * 1e6 + 0.5) / 1e6 AS cos
              |FROM ranked WHERE rank <= 3 ORDER BY left_id, rank""".stripMargin),
      api = "Similarity.lshTopK",
      desc = "Sign-LSH kNN: bucket equi-join candidates + exact cosine re-rank — the EmbeddingKnnBlocker scale path."),

    // ---- dedup: embedding-cosine near-duplicates --------------------------
    "dd_embedding_neardup" -> QueryDef(
      (s, dir) => Similarity.selfJoinNearDup(
          embs(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec")), 0.4)
        .select(col("id_a"), col("id_b"), Num.stableRound(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${explCte("expl")},
             |${normsCte("norms", "expl")},
             |dots AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
             |  FROM expl a JOIN expl b ON a.i = b.i AND a.vec_id < b.vec_id
             |  GROUP BY 1, 2)
             |$nearDupCosSelect""".stripMargin),
      api = "Similarity.selfJoinNearDup",
      desc = "Exact embedding cosine near-dup pairs — the documented O(n²) baseline; `dd_embedding_neardup_lsh` is the scale sibling.",
      auditAllow = Some("documented exact O(n²) baseline (the _lsh variant is the scale path)")),

    // ---- embedding-space benchmark decontamination ------------------------
    // benchmark = label-0 odd-id vectors (broadcast-sized); every even-id
    // corpus vector scored with its best benchmark match. The semantic
    // sibling of dd_decontaminate's n-gram overlap.
    "dd_embedding_decontam" -> QueryDef(
      (s, dir) => {
        val e = embs(s, dir)
        Similarity.embeddingDecontam(
            e.filter(col("vec_id") % 2 === 0)
              .select(col("vec_id").as("id"), col("embedding").as("vec")),
            e.filter(col("vec_id") % 2 === 1 && col("label") === 0)
              .select(col("vec_id").as("id"), col("embedding").as("vec")),
            0.4)
          .select(col("id"), col("bench_id"),
            Num.stableRound(col("cos"), 6).as("cos"), col("contaminated"))
          .orderBy("id")
      },
      Some(s"""WITH ${explCte("expl")},
             |${normsCte("norms", "expl")},
             |bench AS (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1 AND label = 0),
             |dots AS (
             |  SELECT a.vec_id AS id, b.vec_id AS bench_id, sum(a.v * b.v) AS dot
             |  FROM expl a JOIN expl b ON b.i = a.i
             |  JOIN bench bb ON bb.vec_id = b.vec_id
             |  WHERE a.vec_id % 2 = 0
             |  GROUP BY 1, 2),
             |cosv AS (
             |  SELECT id, bench_id, dot / (na.nrm * nb.nrm) AS cv
             |  FROM dots JOIN norms na ON na.vec_id = id
             |            JOIN norms nb ON nb.vec_id = bench_id),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY id
             |           ORDER BY cv DESC, bench_id ASC) AS rn FROM cosv)
             |SELECT id, bench_id, floor(cv * 1e6 + 0.5) / 1e6 AS cos,
             |       cv >= 0.4 AS contaminated
             |FROM rk WHERE rn = 1 ORDER BY id""".stripMargin),
      api = "Similarity.embeddingDecontam",
      desc = "Embedding decontamination: train docs cosine-close to any eval doc are flagged via bucketed join.",
      auditAllow = Some("benchmark-sized broadcast scanned per corpus row (the decontam contract; bucket both sides for non-broadcastable benchmarks)")),

    // ---- dedup scale path: sign-LSH-bucketed near-dup ---------------------
    "dd_embedding_neardup_lsh" -> QueryDef(
      (s, dir) => Similarity.bucketedNearDup(
          embs(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec")), 0.4)
        .select(col("id_a"), col("id_b"), Num.stableRound(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH bucketed AS (
              |  SELECT vec_id, ${Similarity.hyperplaneBucketSql("embedding", 6, 16)} AS b
              |  FROM embeddings),
              |${explCte("expl")},
              |${normsCte("norms", "expl")},
              |cand AS (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM bucketed a JOIN bucketed b ON a.b = b.b AND a.vec_id < b.vec_id),
              |dots AS (
              |  SELECT c.id_a, c.id_b, sum(ea.v * eb.v) AS dot
              |  FROM cand c JOIN expl ea ON ea.vec_id = c.id_a
              |              JOIN expl eb ON eb.vec_id = c.id_b AND eb.i = ea.i
              |  GROUP BY 1, 2)
              |$nearDupCosSelect""".stripMargin),
      api = "Similarity.bucketedNearDup",
      desc = "Embedding near-dup via sign-LSH buckets: pair work confined to bucket-mates, capped per bucket."),

    // ---- M11: cluster-label blocking --------------------------------------
    "m11_cluster_blocks" -> QueryDef(
      (s, dir) => {
        val e = embs(s, dir)
        val l = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("id"), col("label").cast("string").as("key"))
        val r = e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("id"), col("label").cast("string").as("key"))
        blockRows(Blocker.blockJoin(l, r))
      },
      Some("""SELECT label::varchar AS block_key,
             |  array_to_string(list_sort(list(DISTINCT vec_id::varchar) FILTER (vec_id % 2 = 0)), ',') AS left_ids,
             |  array_to_string(list_sort(list(DISTINCT vec_id::varchar) FILTER (vec_id % 2 = 1)), ',') AS right_ids
             |FROM embeddings GROUP BY label
             |HAVING len(list(DISTINCT vec_id) FILTER (vec_id % 2 = 0)) > 0
             |   AND len(list(DISTINCT vec_id) FILTER (vec_id % 2 = 1)) > 0
             |ORDER BY block_key""".stripMargin),
      api = "EmbeddingBlocker",
      desc = "Cluster-ID blocking from embedding space (M11): deterministic coarse clustering, one block per cluster."),

    // ---- M11 density variant: DBSCAN* cluster labels -----------------------
    // The HDBSCAN-semantics path (Density.dbscanStar — core distances,
    // mutual reachability, components of core points; noise genuinely
    // unassigned) run directly on the embeddings table; output is the
    // FULL per-point assignment (cluster min-id label, or noise), so
    // every point's verdict is in the hash — a cluster-keyed blocking
    // would collapse to the few parity-straddling clusters. The oracle
    // replays the WHOLE algorithm in SQL:
    // pairwise distances (rounded 1e-6 on both engines so the eps
    // boundary agrees), the minPts-th-neighbor window, the mutual-
    // reachability edge filter, and connected components as a recursive
    // transitive closure with min-id labels. eps=1.17/minPts=3 yields 19
    // core points in 8 clusters (4 multi-member) with 181 noise — all
    // three outcomes present; at 1.2 the chain effect merges everything
    // into one component (the classic single-link behavior).
    "m11_dbscan_blocks" -> QueryDef(
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 200)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("vec"))
        graft.similarity.Density.dbscanStar(e, eps = 1.17, minPts = 3)
          .select(col("id").cast("long").as("vec_id"),
            coalesce(col("cluster"), lit("noise")).as("cluster"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE
             |e AS (SELECT cast(vec_id AS varchar) AS id, vec_id % 2 AS par, embedding
             |      FROM embeddings WHERE vec_id < 200),
             |${fixtureCoreSql("")} AND d <= 1.17),
             |edges AS (
             |  SELECT d.ia AS ea, d.ib AS eb
             |  FROM d JOIN core ca ON ca.id = d.ia JOIN core cb ON cb.id = d.ib
             |  WHERE greatest(ca.c, cb.c, d.d) <= 1.17),
             |reach(a, b) AS (
             |  SELECT id, id FROM core
             |  UNION
             |  SELECT r.a, e2.eb FROM reach r JOIN edges e2 ON r.b = e2.ea),
             |labels AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a)
             |SELECT cast(e.id AS bigint) AS vec_id,
             |       coalesce(labels.cluster, 'noise') AS cluster
             |FROM e LEFT JOIN labels USING (id)
             |ORDER BY vec_id""".stripMargin),
      api = "Density.dbscanStar",
      desc = "DBSCAN* density clustering (HDBSCAN's fixed-eps slice): core distances, mutual-reachability edges, components of core points; noise genuinely unassigned. Oracle replays the full algorithm incl. a recursive-CTE transitive closure."),

    // ---- M11 hierarchy variant: HDBSCAN flat cut over an eps ladder --------
    // The excess-of-mass extraction (Density.hdbscanFlatCut) on the same
    // 200-point fixture: ladder 1.22 → 1.19 → 1.18 → 1.17 walks ONE root
    // (148 core points at 1.22 — so the single-root exclusion engages)
    // down to the m11_dbscan_blocks clustering, and stability picks
    // per-branch cut levels. Output is the full per-point assignment.
    // The oracle replays the ENTIRE algorithm in SQL: per-level
    // recursive-CTE components, condensed-tree node identity via the
    // birth/ancestor walk, raw-double stability with comparisons rounded
    // 1e-6 in lockstep, and the eom DP unrolled bottom-up per birth
    // level (the ladder fixes the tree depth at SQL-generation time).
    "m11_hdbscan_blocks" -> QueryDef(
      (s, dir) => {
        val e = embs(s, dir).filter(col("vec_id") < 200)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("vec"))
        graft.similarity.Density.hdbscanFlatCut(
          e, epsLadder = Seq(1.22, 1.19, 1.18, 1.17), minPts = 3,
          minClusterSize = 2)
          .select(col("id").cast("long").as("vec_id"),
            coalesce(col("cluster"), lit("noise")).as("cluster"))
          .orderBy("vec_id")
      },
      Some {
        val body = graft.similarity.Density.hdbscanFlatCutSql(
          "SELECT cast(vec_id AS varchar) AS id, embedding FROM embeddings WHERE vec_id < 200",
          epsLadder = Seq(1.22, 1.19, 1.18, 1.17), minPts = 3,
          minClusterSize = 2)
        s"""$body
           |SELECT cast(e.id AS bigint) AS vec_id,
           |       coalesce(assigned.cluster, 'noise') AS cluster
           |FROM e LEFT JOIN assigned USING (id)
           |ORDER BY vec_id""".stripMargin
      },
      api = "Density.hdbscanFlatCut",
      desc = "HDBSCAN flat cut over an eps ladder: per-level DBSCAN* components, condensed-tree stability, excess-of-mass selection — per-branch eps, the hierarchy extraction the fixed-eps slice lacks. Oracle replays the whole algorithm incl. the eom DP unrolled per birth level."),

    // ---- M11 auto ladder: the data-derived eps ladder itself --------------
    // Density.autoEpsLadder on the 200-point fixture: per-point minimum
    // mutual reachability r_i = min_j max(c_i, c_j, d_ij) (uncapped core
    // distances), then 4 evenly-spaced values over the DISTINCT sorted
    // radii, descending. The oracle derives the ladder INDEPENDENTLY in
    // SQL — rounded distances, the minPts-th-neighbor window, the
    // min-reach aggregate, distinct ranking, and the same
    // floor(x + 0.5) index arithmetic — pinning the derivation the
    // `--eps-ladder auto` path feeds into the flat cut (whose own
    // algorithm m11_hdbscan_blocks replays in full).
    "m11_auto_ladder" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val e = embs(s, dir).filter(col("vec_id") < 200)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("vec"))
        graft.similarity.Density.autoEpsLadder(e, levels = 4, minPts = 3)
          .zipWithIndex.map { case (eps, i) => ((i + 1).toLong, eps) }
          .toDF("level", "eps").orderBy("level")
      },
      Some(s"""WITH e AS (SELECT cast(vec_id AS varchar) AS id, embedding
             |           FROM embeddings WHERE vec_id < 200),
             |${fixtureCoreSql(" MATERIALIZED")}),
             |rm AS (SELECT d.ia AS id, min(greatest(ca.c, cb.c, d.d)) AS r
             |       FROM d JOIN core ca ON ca.id = d.ia
             |              JOIN core cb ON cb.id = d.ib
             |       GROUP BY 1),
             |ranked AS (SELECT r, row_number() OVER (ORDER BY r) - 1 AS rn,
             |                  count(*) OVER () AS dcount
             |           FROM (SELECT DISTINCT r FROM rm WHERE r > 0)),
             |picks AS (
             |  SELECT DISTINCT rn FROM ranked, (VALUES (0), (1), (2), (3)) k(k)
             |  WHERE dcount > 4
             |    AND rn = CAST(floor(k.k * (dcount - 1.0) / 3.0 + 0.5) AS BIGINT)
             |  UNION
             |  SELECT rn FROM ranked WHERE dcount <= 4)
             |SELECT row_number() OVER (ORDER BY r DESC) AS level, r AS eps
             |FROM ranked WHERE rn IN (SELECT rn FROM picks)
             |ORDER BY level""".stripMargin),
      api = "Density.autoEpsLadder",
      desc = "The data-derived eps ladder (--eps-ladder auto): per-point minimum mutual reachability, evenly-spaced distinct radii — the derivation oracled independently in SQL."),

    // ---- M11 EXACT hierarchy: continuous dendrogram, no ladder ------------
    // Density.hdbscanExact — distributed Borůvka MST + driver condensed
    // tree — on a 27-point fixture whose COMPLETE radius set is known
    // from its geometry, so the oracle can replay the continuous
    // dendrogram as the flat cut over that complete ladder (for a
    // finite set the continuous hierarchy changes only at the distinct
    // mutual-reachability radii; `continuous=true` switches the λ
    // convention to the published Σ_p (λ_p − λ_birth) stability).
    // The two sides run DIFFERENT algorithms — Spark: MST + merge-tree
    // condensed walk; DuckDB: 8 per-level recursive closures + the
    // unrolled eom DP — so the row is a cross-engine AND
    // cross-algorithm check, beyond the DensitySpec equivalence
    // property. Fixture (1-D geometry in a 2-vector, all coordinates
    // exact binary fractions; minPts=2 → core = 2nd-nearest):
    //   e00–e05 tight 6-chain @0.25 (cores .25/.5-ends; reaches .25/.5)
    //   e06–e11 same at x=4        (T–U MST bridge reach 2.75)
    //   e12–e16 5-chain @0.25 at x=10, e17–e21 at x=14 (bridge 3.0;
    //            U–S bridge 4.75)
    //   e22–e26 loose 5-chain @1.0 at x=20 (cores 1/2; reaches 1/2;
    //            S–L bridge 5.0 → everything one root at the coarsest
    //            level, so the single-root exclusion engages)
    // Complete ladder = cores ∪ MST reaches =
    // {5.0, 4.75, 3.0, 2.75, 2.0, 1.0, 0.5, 0.25}: 8 levels.
    "m11_hdbscan_exact" -> QueryDef(
      (s, dir) => {
        graft.similarity.Density.hdbscanExact(
          chainFixture(s), minPts = 2, minClusterSize = 3)
          .select(col("id"), coalesce(col("cluster"), lit("noise")).as("cluster"))
          .orderBy("id")
      },
      Some {
        val body = graft.similarity.Density.hdbscanFlatCutSql(
          chainFixtureSql, epsLadder = Seq(5.0, 4.75, 3.0, 2.75, 2.0, 1.0, 0.5, 0.25),
          minPts = 2, minClusterSize = 3, continuous = true)
        s"""$body
           |SELECT e.id, coalesce(assigned.cluster, 'noise') AS cluster
           |FROM e LEFT JOIN assigned USING (id)
           |ORDER BY id""".stripMargin
      },
      api = "Density.hdbscanExact",
      desc = "EXACT HDBSCAN — the continuous mutual-reachability dendrogram with no eps ladder: distributed Borůvka MST + a value-set-sized driver condensed tree (continuous λ stability, eom). Oracle replays the complete-ladder flat cut — a different algorithm — on a known-radius fixture."),

    // ---- M11 auto ladder COMPOSED: derivation → flat cut end-to-end --------
    // The `--eps-ladder auto` path as one operator
    // (Density.hdbscanFlatCutAuto): derive the ladder from the data's
    // first-connection radii, then cut. Same 27-point known-geometry
    // fixture as m11_hdbscan_exact — its distinct r_i are EXACTLY
    // {2.0, 1.0, 0.5, 0.25} (tight-chain interiors 0.25, tight endpoints
    // 0.5, loose interiors 1.0, loose endpoints 2.0 — minPts=2 cores),
    // so levels=4 takes the full set and the composed ladder is known
    // from geometry, SF-independent. The oracle replays BOTH stages:
    // it re-derives the ladder in SQL (min reach per point over the
    // body's `edges` — sound because every first-connection radius
    // ≤ eps1 = the max radius, so the eps1-capped edge set attains
    // each minimum), gates the output on the derived ladder matching
    // the geometry constants (a derivation drift yields ZERO rows →
    // hash mismatch), and runs the full flat-cut replay over those
    // constants. Spark derives its ladder at runtime — a genuine
    // derivation→cut composition on both sides.
    "m11_hdbscan_auto" -> QueryDef(
      (s, dir) => {
        // coalesce(1): the fixture is 27 rows — the composed path runs
        // TWO distance passes plus 4 per-level closure loops, and at 32
        // shuffle partitions the row is pure task-scheduling overhead
        // (measured 13.6 s → ~4 s single-partition, identical result)
        graft.similarity.Density.hdbscanFlatCutAuto(
          chainFixture(s).coalesce(1), levels = 4, minPts = 2, minClusterSize = 3)
          .select(col("id"), coalesce(col("cluster"), lit("noise")).as("cluster"))
          .orderBy("id")
      },
      Some {
        val body = graft.similarity.Density.hdbscanFlatCutSql(
          chainFixtureSql, epsLadder = Seq(2.0, 1.0, 0.5, 0.25),
          minPts = 2, minClusterSize = 3)
        s"""$body,
           |rm2 AS (SELECT ia AS id, min(reach) AS r FROM edges GROUP BY 1),
           |ranked2 AS (SELECT r, row_number() OVER (ORDER BY r) - 1 AS rn,
           |                   count(*) OVER () AS dcount
           |            FROM (SELECT DISTINCT r FROM rm2 WHERE r > 0)),
           |picks2 AS (
           |  SELECT DISTINCT rn FROM ranked2, (VALUES (0), (1), (2), (3)) k(k)
           |  WHERE dcount > 4
           |    AND rn = CAST(floor(k.k * (dcount - 1.0) / 3.0 + 0.5) AS BIGINT)
           |  UNION
           |  SELECT rn FROM ranked2 WHERE dcount <= 4),
           |derived AS (SELECT row_number() OVER (ORDER BY r DESC) AS lvl, r AS eps
           |            FROM ranked2 WHERE rn IN (SELECT rn FROM picks2)),
           |expectedl(lvl, eps) AS (VALUES (1, 2.0::double), (2, 1.0::double),
           |                               (3, 0.5::double), (4, 0.25::double)),
           |ladder_ok AS (SELECT (SELECT count(*) FROM derived) = 4
           |    AND count(*) = 4 AS ok
           |  FROM derived dl JOIN expectedl x
           |    ON dl.lvl = x.lvl AND abs(dl.eps - x.eps) < 1e-9)
           |SELECT e.id, coalesce(assigned.cluster, 'noise') AS cluster
           |FROM e LEFT JOIN assigned USING (id)
           |WHERE (SELECT ok FROM ladder_ok)
           |ORDER BY id""".stripMargin
      },
      api = "Density.hdbscanFlatCutAuto",
      desc = "The COMPOSED --eps-ladder auto path: derive the ladder from the data's first-connection radii, then run the eom flat cut. Oracle re-derives the ladder in SQL on a closed-form-radius fixture, gates on the constants, and replays the full cut."),

    // ---- M12: token-clustering blockers -----------------------------------
    // cluster TOKENS (not attribute values), pseudo-token replacement, then
    // block (attribute_clustering.py:256-393). HashBucketClusterAssigner is
    // md5-deterministic, so the FULL pipeline — cluster sizes, noise-mode
    // key mapping, downstream blocking — is oracle-checked; the KMeans
    // assigner path is spec-covered (EncoderSpec).
    "m12_token_cluster_blocker" -> QueryDef(
      (s, dir) => blockRows(TokenClusteringTokenBlocker(
          HashBucketClusterAssigner(16), minClusterSize = 3,
          noise = NoiseHandling.Token)
        .assign(docSide(s, dir, 0), docSide(s, dir, 1))),
      Some {
        val lab = TokenClustering.labelsSql(
          s"SELECT key AS v FROM lt UNION SELECT key FROM rt",
          HashBucketClusterAssigner(16), 3, NoiseHandling.Token)
        s"""$docTokenSidesCtes,
           |lab AS ($lab),
           |lk AS (SELECT DISTINCT id, lab.key FROM lt JOIN lab ON lt.key = lab.v),
           |rk AS (SELECT DISTINCT id, lab.key FROM rt JOIN lab ON rt.key = lab.v),
           |${blockJoinSql("lk", "rk")}""".stripMargin
      },
      api = "TokenClusteringTokenBlocker.assign",
      desc = "Attribute/token clustering blocker (M12): tokens clustered by co-occurrence, blocks keyed by cluster id."),

    "m12_token_cluster_minhash" -> QueryDef(
      (s, dir) => blockRows(TokenClusteringMinHashLSHBlocker(
          HashBucketClusterAssigner(16), minClusterSize = 3,
          noise = NoiseHandling.Remove, numPerm = 16, bands = 4)
        .assign(docSide(s, dir, 0), docSide(s, dir, 1))),
      Some {
        val lab = TokenClustering.labelsSql(
          s"SELECT key AS v FROM lt UNION SELECT key FROM rt",
          HashBucketClusterAssigner(16), 3, NoiseHandling.Remove)
        def side(tok: String) = {
          val keyed = s"SELECT DISTINCT id, lab.key FROM $tok JOIN lab ON $tok.key = lab.v"
          MinHash.bandBucketsSql(MinHash.signatureSql(keyed, 16), 4, 4)
        }
        s"""$docTokenSidesCtes,
           |lab AS ($lab),
           |${blockJoinSql(s"(${side("lt")})", s"(${side("rt")})")}""".stripMargin
      },
      api = "TokenClusteringMinHashLSHBlocker.assign",
      desc = "M12 variant with MinHash-LSH inside token clusters — cluster scoping bounds the banded join."),

    // ---- M12 composed: density assigner → noise keys → blocking -----------
    // The full attribute-clustering pipeline through the DENSITY
    // assigner (the CLI's --blocker density-cluster --eps-ladder path),
    // previously only CLI/spec-pinned: a 200-token vocabulary is
    // synthesized INSIDE the query (the s3_cluster_gold fixture
    // pattern) because the corpus vocabulary at oracle SF is degenerate
    // (29 tokens, 2nd-NN distances packed in 1.10–1.30 — NOTES_r14 §9).
    // Families with separated geometry, all coordinates exact binary
    // fractions (multiples of 1/8) so Spark and DuckDB synthesize
    // bit-identical doubles:
    //   i 0–55    4 tight families  (14 @ 0.25 apart: clusters at every
    //             ladder level — pure continuations);
    //   i 56–103  4 loose families  (12 @ 0.875: cluster at eps 2/1,
    //             endpoints shed at 1 (2nd-NN 1.75), gone at 0.5);
    //   i 104–131 2 split families  (two 7-blobs @ 0.25, gap 1.5: one
    //             cluster at 2.0, TRUE SPLIT at 1.0 — eom chooses);
    //   i 132–134 one trio @ 0.25: a genuine density cluster that the
    //             hierarchyMinClusterSize=4 shed rule drops per level →
    //             never clustered, values keep themselves (the
    //             ADVICE-threaded min_cluster_size knob, observable);
    //   i 135–199 65 noise points ≥64 apart — never core.
    // Values are single tokens, so TableTokenEncoder pools exactly one
    // table vector per value (no float-order risk); noise=Token keeps
    // unclustered values as their own keys (cross-side singletons never
    // block). The oracle replays the WHOLE pipeline: vocabulary
    // synthesis, hdbscanFlatCutSql (per-level closures + condensed tree
    // + eom DP), the size-gated noise-mode key mapping, and the
    // blocking joins.
    "m12_density_pipeline" -> QueryDef(
      (s, dir) => {
        val i = col("i")
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        val x =
          when(i < 56, d(expr("i DIV 14")) * 100.0 + d(i % 14) * 0.25)
          .when(i < 104,
            (d(expr("(i - 56) DIV 12")) + 4.0) * 100.0 + d((i - 56) % 12) * 0.875)
          .when(i < 132,
            (d(expr("(i - 104) DIV 14")) + 8.0) * 100.0 +
              when((i - 104) % 14 < 7, d((i - 104) % 14) * 0.25)
                .otherwise(lit(3.0) + d((i - 104) % 14 - 7) * 0.25))
          .when(i < 135, lit(1000.0) + d(i - 132) * 0.25)
          .otherwise(lit(2000.0) + d(i - 135) * 64.0)
        val y = when(i < 135, lit(0.0)).otherwise(d(i - 135) * 64.0)
        val gen = s.range(0, 200).select(col("id").cast("int").as("i"))
          .select(col("i"), format_string("t%03d", col("i")).as("token"),
            x.as("x"), y.as("y"))
        val vecs = gen.select(col("token"),
          array(col("x"), col("y"), lit(0.0), lit(0.0)).as("vector"))
        val blocker = AttributeClusteringBlocker(
          DensityClusterAssigner(
            graft.encoders.TableTokenEncoder(vecs, dims = 4),
            eps = 0.5, minPts = 2, lshPlanes = 0,
            epsLadder = Seq(2.0, 1.0, 0.5), hierarchyMinClusterSize = 4),
          minClusterSize = 3, noise = NoiseHandling.Token)
        val lf = EntityFrame(gen.filter(col("i") % 2 === 0)
          .select(concat(lit("l"), col("token")).as("eid"),
            col("token").as("val")), "dens_left", "eid")
        val rf = EntityFrame(gen.filter(col("i") % 2 === 1)
          .select(concat(lit("r"), col("token")).as("eid"),
            col("token").as("val")), "dens_right", "eid")
        blockRows(blocker.assign(lf, rf))
      },
      Some {
        val points =
          """SELECT printf('t%03d', i) AS id,
            |  [CASE
            |     WHEN i < 56 THEN (i // 14) * 100.0 + (i % 14) * 0.25
            |     WHEN i < 104 THEN ((i - 56) // 12 + 4) * 100.0 + ((i - 56) % 12) * 0.875
            |     WHEN i < 132 THEN ((i - 104) // 14 + 8) * 100.0 +
            |       CASE WHEN (i - 104) % 14 < 7 THEN ((i - 104) % 14) * 0.25
            |            ELSE 3.0 + ((i - 104) % 14 - 7) * 0.25 END
            |     WHEN i < 135 THEN 1000.0 + (i - 132) * 0.25
            |     ELSE 2000.0 + (i - 135) * 64.0 END,
            |   CASE WHEN i < 135 THEN 0.0 ELSE (i - 135) * 64.0 END,
            |   0.0, 0.0] AS embedding
            |FROM range(200) t(i)""".stripMargin
        val body = graft.similarity.Density.hdbscanFlatCutSql(
          points, epsLadder = Seq(2.0, 1.0, 0.5), minPts = 2,
          minClusterSize = 4)
        s"""$body,
           |clu AS (SELECT e.id AS v, coalesce(a.cluster, e.id) AS cluster
           |        FROM e LEFT JOIN assigned a ON a.id = e.id),
           |lab AS (SELECT v, CASE WHEN _csize >= 3
           |                       THEN 'clustering_label_'||cluster ELSE v END AS key
           |        FROM (SELECT v, cluster,
           |                count(*) OVER (PARTITION BY cluster) AS _csize FROM clu)),
           |sides AS (SELECT v, CAST(substr(v, 2) AS INTEGER) % 2 AS par FROM clu),
           |lk AS (SELECT DISTINCT 'l'||s.v AS id, lab.key
           |       FROM sides s JOIN lab ON lab.v = s.v WHERE s.par = 0),
           |rk AS (SELECT DISTINCT 'r'||s.v AS id, lab.key
           |       FROM sides s JOIN lab ON lab.v = s.v WHERE s.par = 1),
           |${blockJoinSql("lk", "rk")}""".stripMargin
      },
      api = "AttributeClusteringBlocker + DensityClusterAssigner",
      desc = "The composed density blocking pipeline on a synthesized 200-token vocabulary: table-vector encode → HDBSCAN flat cut → size-gated noise keys → block join, full SQL replay."),

    // ---- §2.10: incremental token blocker, batch-parity oracle ------------
    // flatMapGroupsWithState on a BATCH dataset = one mega-batch: the
    // stateful operator must emit exactly the full token-join pair set —
    // the same SQL the TokenBlocker answers. Multi-batch incrementality
    // (only-new-pairs per batch) is spec-tested in StreamingSpec.
    "st_incremental_token_pairs" -> QueryDef(
      (s, dir) => {
        implicit val sp: SparkSession = s
        // doc_id < 200 bound: the pair set is quadratic on this dense
        // corpus; 100 docs/side (~170k pairs) exercises the operator
        // without a 1M-row gate artifact
        val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text"),
            when(col("doc_id") % 2 === 0, "left").otherwise("right").as("side"))
        val recs = graft.streaming.StreamingOps.tokenize(docs, "doc_id", "text", "side")
        graft.streaming.StreamingOps.incrementalTokenBlocks(recs)
          .toDF()
          .select(col("key").as("block_key"), col("leftId").as("left_id"),
            col("rightId").as("right_id"))
          .distinct()
          .orderBy("block_key", "left_id", "right_id")
      },
      Some {
        def side(parity: Int) = duckTokens("cast(doc_id AS varchar)", "text",
          s"(SELECT * FROM documents WHERE doc_id < 200 AND doc_id % 2 = $parity)")
        s"""WITH lt AS (SELECT DISTINCT * FROM (${side(0)})),
           |rt AS (SELECT DISTINCT * FROM (${side(1)}))
           |SELECT lt.key AS block_key, lt.id AS left_id, rt.id AS right_id
           |FROM lt JOIN rt USING (key)
           |ORDER BY block_key, left_id, right_id""".stripMargin
      },
      api = "StreamingOps.incrementalTokenBlocks",
      desc = "Streaming incremental token blocking: per-token state holds capped id lists; new docs pair only against state."),

    // ---- §2.10: TTL token blocker — multi-wave horizon-rule replay --------
    // Multi-batch twin of st_incremental_token_pairs for the TTL
    // variant: three waves pin per-entry eviction, refresh-extends-life,
    // and re-admission duplicates (ttl 1 h, watermark 0 s → wm = max
    // prior event time). grp = doc_id % 4; left = evens {0,2}, right =
    // odds {1,3}:
    //   wave 1 (T):       all records → the full token-join pair set
    //                     (lefts sort before rights within a batch, so
    //                     each right admits against every left);
    //   wave 2 (T+2 h):   grp {0,1} re-sight → pure refresh, floor
    //                     T−1 h keeps everything live, zero emissions;
    //   wave 3 (T+3.5 h): floor T+1 h → grp {2,3} entries evict; grp
    //                     {1,2} arrive again: grp-2 lefts RE-ADMIT and
    //                     emit against the surviving grp-1 rights
    //                     (refreshed at wave 2), grp-1 rights re-sight
    //                     silently.
    // Result = per-pair emission count: 2 for (left≡2, right≡1 mod 4)
    // pairs, 1 otherwise. The oracle replays the horizon rule wave by
    // wave — floors as max-prior-time aggregates, refresh via
    // greatest(), admissions as anti-joins, and the side-ordered
    // emission rule (new lefts × live rights; new rights × all lefts).
    "st_ttl_token_replay" -> QueryDef(
      (s, dir) => {
        implicit val sp: SparkSession = s
        import s.implicits._
        val base = 1700000000000L // event-time ms; tz-free
        val hour = 3600000L
        val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text"),
            when(col("doc_id") % 2 === 0, "left").otherwise("right").as("side"))
        val recs = graft.streaming.StreamingOps
          .tokenize(docs, "doc_id", "text", "side")
          .distinct().collect() // bounded: ≤200 docs × ~30 distinct tokens
        def wave(ms: Long, grps: Set[Int]) =
          recs.toSeq.filter(r => grps.contains(r.id.toInt % 4)).map(r =>
            graft.streaming.StreamingOps.TimedTokenRecord(
              r.key, r.side, r.id, new java.sql.Timestamp(ms)))
        val sink = graft.streaming.StreamingOps.replayWaves(
          Seq(wave(base, Set(0, 1, 2, 3)),
            wave(base + 2 * hour, Set(0, 1)),
            wave(base + 7 * hour / 2, Set(1, 2))),
          "st_ttl_tok_replay") { ds =>
          graft.streaming.StreamingOps.incrementalTokenBlocksWithTtl(
            ds, maxIdsPerSide = 10000, ttl = "1 hour", watermark = "0 seconds")
        }
        // seal: the sink is a localCheckpoint replayWaves hands back —
        // release its blocks once the (tiny) emission-count output is
        // materialized, per the CacheScope checkpoint-release contract
        graft.core.CacheScope.seal(
          sink.groupBy(col("key").as("block_key"), col("leftId").as("left_id"),
              col("rightId").as("right_id"))
            .agg(count(lit(1)).as("emits"))
            .orderBy("block_key", "left_id", "right_id"),
          sink)
      },
      Some {
        val toks = duckTokens("cast(doc_id AS varchar)", "text",
          "(SELECT * FROM documents WHERE doc_id < 200)")
        val (t1, t2, t3) = (1700000000000L, 1700007200000L, 1700012600000L)
        // sides keyed (key, side, id); 'left' < 'right' in the operator's
        // within-batch (ts, side, id) sort, so a wave's lefts process
        // before its rights: new lefts pair against the PRE-wave live
        // rights, new rights against every left (live or just admitted)
        s"""WITH toks AS MATERIALIZED (
           |  SELECT DISTINCT id, key,
           |         CASE WHEN CAST(id AS INTEGER) % 2 = 0
           |              THEN 'left' ELSE 'right' END AS side,
           |         CAST(id AS INTEGER) % 4 AS g
           |  FROM ($toks)),
           |sight AS MATERIALIZED (
           |  SELECT t.key, t.side, t.id, t.g, w.w, w.tms
           |  FROM toks t, (VALUES (1, $t1), (2, $t2), (3, $t3)) AS w(w, tms)
           |  WHERE w.w = 1 OR (w.w = 2 AND t.g IN (0, 1))
           |     OR (w.w = 3 AND t.g IN (1, 2))),
           |s1 AS (SELECT key, side, id, tms AS seen FROM sight WHERE w = 1),
           |f2 AS (SELECT max(tms) - 3600000 AS f FROM sight WHERE w < 2),
           |live2 AS (SELECT s1.key, s1.side, s1.id, s1.seen
           |          FROM s1, f2 WHERE s1.seen >= f2.f),
           |a2 AS (SELECT key, side, id, tms FROM sight WHERE w = 2),
           |new2 AS (SELECT a2.key, a2.side, a2.id, a2.tms FROM a2
           |  WHERE NOT EXISTS (SELECT 1 FROM live2 l
           |    WHERE l.key = a2.key AND l.side = a2.side AND l.id = a2.id)),
           |s2 AS MATERIALIZED (
           |  SELECT l.key, l.side, l.id,
           |         greatest(l.seen, coalesce(a.tms, l.seen)) AS seen
           |  FROM live2 l LEFT JOIN a2 a
           |    ON a.key = l.key AND a.side = l.side AND a.id = l.id
           |  UNION ALL SELECT key, side, id, tms FROM new2),
           |f3 AS (SELECT max(tms) - 3600000 AS f FROM sight WHERE w < 3),
           |live3 AS (SELECT s2.key, s2.side, s2.id
           |          FROM s2, f3 WHERE s2.seen >= f3.f),
           |a3 AS (SELECT key, side, id FROM sight WHERE w = 3),
           |new3 AS (SELECT a3.key, a3.side, a3.id FROM a3
           |  WHERE NOT EXISTS (SELECT 1 FROM live3 l
           |    WHERE l.key = a3.key AND l.side = a3.side AND l.id = a3.id)),
           |e1 AS ( -- wave 1: everything new; rights admit against all lefts
           |  SELECT l.key, l.id AS left_id, r.id AS right_id
           |  FROM s1 l JOIN s1 r ON r.key = l.key
           |  WHERE l.side = 'left' AND r.side = 'right'),
           |e2 AS (
           |  SELECT nl.key, nl.id AS left_id, lr.id AS right_id
           |  FROM new2 nl JOIN live2 lr
           |    ON lr.key = nl.key AND nl.side = 'left' AND lr.side = 'right'
           |  UNION ALL
           |  SELECT nr.key, x.id, nr.id
           |  FROM new2 nr JOIN (SELECT key, side, id FROM live2
           |                     UNION ALL SELECT key, side, id FROM new2) x
           |    ON x.key = nr.key AND nr.side = 'right' AND x.side = 'left'),
           |e3 AS (
           |  SELECT nl.key, nl.id AS left_id, lr.id AS right_id
           |  FROM new3 nl JOIN live3 lr
           |    ON lr.key = nl.key AND nl.side = 'left' AND lr.side = 'right'
           |  UNION ALL
           |  SELECT nr.key, x.id, nr.id
           |  FROM new3 nr JOIN (SELECT key, side, id FROM live3
           |                     UNION ALL SELECT key, side, id FROM new3) x
           |    ON x.key = nr.key AND nr.side = 'right' AND x.side = 'left'),
           |em AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
           |       UNION ALL SELECT * FROM e3)
           |SELECT key AS block_key, left_id, right_id, count(*) AS emits
           |FROM em GROUP BY 1, 2, 3
           |ORDER BY 1, 2, 3""".stripMargin
      },
      api = "StreamingOps.incrementalTokenBlocksWithTtl",
      desc = "Multi-wave TTL replay of the incremental token blocker: per-entry eviction, refresh, and the re-admit duplicate-pair divergence, hashed against a per-wave SQL state replay."),

    // ---- M4/M5: SIF-weighted word-embedding pooling -----------------------
    // token vectors are md5-derived 8-dim pseudo-embeddings; SIF weight
    // a/(a + freq/total) with a = 1e-3 (reference pretrained.py:486-515).
    "m4_sif_embedding" -> QueryDef(
      (s, dir) => {
        val toks = table(s, dir, "documents")
          .select(col("doc_id"),
            explode(Text.tokenize(col("text"))).as("key"))
        val counts = toks.groupBy("key").agg(count(lit(1)).as("freq"))
        // total token count in-plan as Σfreq over the (tiny) counts frame —
        // no driver-side count() action, no third scan of the tokenize
        // pipeline (the old plan paid it ~3×)
        val withTotal = counts.crossJoin(
          broadcast(counts.agg(sum("freq").cast("double").as("total"))))
        val a = 1e-3
        val weighted = toks.join(withTotal, Seq("key"))
          .withColumn("w", lit(a) / (lit(a) + col("freq") / col("total")))
        val dims = (0 until 8).map(d =>
          Num.stableRound(sum(col("w") * HashTokenEncoder.dimValue(col("_x"), d))
            / sum(col("w")), 6).as(s"d$d"))
        weighted.withColumn("_x", HashTokenEncoder.tokenHash(col("key")))
          .groupBy("doc_id").agg(dims.head, dims.tail: _*).orderBy("doc_id")
      },
      Some(sifEmbeddingOracleSql),
      api = "AverageEmbeddingEncoder",
      desc = "SIF-weighted average word embedding per entity (M4): a/(a+freq) weights from one frequency agg.",
      auditAllow = Some("one-row token-count total crossJoin for SIF weighting (Encoders.scala:49)")),

    // ---- M4 production form: real (token, vector) TABLE lookup ------------
    // TableTokenEncoder end-to-end: the vector table is materialized as a
    // plain (token, vec) DataFrame FIRST — the encoder only ever joins
    // it; nothing in its plan knows where the vectors came from (the
    // fasttext/gloVe-parquet shape, reference pretrained.py:259-384).
    // The vocabulary is the hash-even HALF of the corpus tokens, so the
    // reference's unknown-token skip (KeyError → continue) demonstrably
    // engages at every SF — odd-hash tokens are out-of-vocabulary yet
    // still count toward the SIF totals, exactly like the reference's
    // value_counts over raw tokenizer output. The oracle replays the
    // vocabulary build, the lookup join, and the weighted average in SQL.
    "m4_table_embedding" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
        val vocab = docs
          .select(explode(Text.tokenize(col("text"))).as("token")).distinct()
          .withColumn("_x", HashTokenEncoder.tokenHash(col("token")))
          .filter(col("_x") % 2 === 0)
          .select(col("token"), array((0 until 4).map(d =>
            HashTokenEncoder.dimValue(col("_x"), d)): _*).as("vec"))
        val enc = graft.encoders.TableTokenEncoder(vocab, dims = 4, sif = true)
        enc.encode(EntityFrame(docs, "documents", "doc_id"), None)
          .select(col("id").cast("long").as("doc_id") +:
            (0 until 4).map(d =>
              Num.stableRound(get(col("vec"), lit(d)), 6).as(s"d$d")): _*)
          .orderBy("doc_id")
      },
      Some {
        s"""$sifCountsCtes,
           |vocab AS (
           |  SELECT key, x FROM (
           |    SELECT key, ${HashTokenEncoder.tokenHashSql("key")} AS x FROM counts)
           |  WHERE x % 2 = 0),
           |weighted AS (
           |  SELECT toks.id, vocab.x,
           |         0.001 / (0.001 + counts.freq / total.t) AS w
           |  FROM toks JOIN counts USING (key) JOIN vocab USING (key), total)
           |SELECT id AS doc_id, ${sifDimsSql(4)}
           |FROM weighted GROUP BY id ORDER BY doc_id""".stripMargin
      },
      api = "TableTokenEncoder",
      desc = "M4 production form: real (token, vector) table lookup-join with unknown-token skip + SIF over real corpus frequencies."),

    // ---- S7: embedding cache save/load, end-to-end ------------------------
    // The "encode once, block many times" flow proven under the oracle:
    // encode through CachedEncoder into a per-run temp dir (the first
    // call MISSES — encodes, saves, reads back), then encode AGAIN (the
    // second call must HIT: config + dataset-fingerprint meta match, a
    // pure parquet read of the stored (id, vec) table — asserted via the
    // miss counter, so a silent re-encode fails the query loudly). The
    // hit's vectors, unpacked to columns, must equal the direct SIF
    // computation — the oracle is m4_sif_embedding's, shared verbatim
    // (the ann_ivf_pq_saved pattern: storage must be a bit-identical
    // detour, never a transformation).
    "s7_embedding_cache" -> QueryDef(
      (s, dir) => {
        val frame = EntityFrame(
          table(s, dir, "documents").select(col("doc_id"), col("text")),
          "documents", "doc_id")
        val cacheDir = java.nio.file.Files
          .createTempDirectory("graft_embcache_").toString
        val enc = graft.encoders.CachedEncoder(
          HashTokenEncoder(8, sif = true), cacheDir)
        enc.encode(frame)
        val cached = enc.encode(frame)
        require(enc.misses.get() == 1L,
          s"embedding cache did not hit on the second encode " +
            s"(misses=${enc.misses.get()}) — stale-meta probe broken")
        val dims = (0 until 8).map(d =>
          Num.stableRound(col("vec").getItem(d), 6).as(s"d$d"))
        cached.select(col("id").cast("long").as("doc_id") +: dims: _*)
          .orderBy("doc_id")
      },
      Some(sifEmbeddingOracleSql),
      api = "CachedEncoder / EmbeddingStore",
      desc = "Embedding cache round-trip (S7): encode-miss saves, second encode must HIT (meta-matched parquet read, asserted); the hit's vectors share m4_sif_embedding's oracle verbatim."),

    // ---- M5: SIF with first-principal-component removal -------------------
    // (pretrained.py:517-531). Spark side: the real operator — RowMatrix
    // .computeSVD(k=1) + in-plan subtraction. Oracle side: at dims=2 the
    // top singular vector of the (uncentered) Gramian has a closed form,
    // so DuckDB reproduces the SVD exactly: λ = ((gxx+gyy)+√((gxx−gyy)²
    // +4gxy²))/2, v ∝ (gxy, λ−gxx). Sign ambiguity cancels in x−(x·v̂)v̂.
    "m4_sif_pc_embedding" -> QueryDef(
      (s, dir) => {
        val docs = EntityFrame(
          table(s, dir, "documents").select(col("doc_id"), col("text")),
          "docs", "doc_id")
        HashTokenEncoder(2, sif = true, removePc = true).encode(docs, None)
          .select(col("id").cast("long").as("doc_id"),
            Num.stableRound(get(col("vec"), lit(0)), 6).as("d0"),
            Num.stableRound(get(col("vec"), lit(1)), 6).as("d1"))
          .orderBy("doc_id")
      },
      Some {
        s"""$sifPcCtes
           |SELECT doc_id,
           |  floor((d0 - (d0*px + d1*py)*px) * 1e6 + 0.5) / 1e6 AS d0,
           |  floor((d1 - (d0*px + d1*py)*py) * 1e6 + 0.5) / 1e6 AS d1
           |FROM emb, pcn ORDER BY doc_id""".stripMargin
      },
      api = "SifEncoder",
      desc = "SIF + first-principal-component removal (M5 step): PC via distributed Gram matrix + driver-side eigh on d×d."),

    // ---- M5: PCA dim-reduce (the documented UMAP substitution) ------------
    // 2D SIF embeddings → 1D coordinate on the top singular vector, sign
    // canonicalized (largest-|entry| positive) so Spark's ARPACK/dense
    // solve and DuckDB's closed form agree exactly.
    "m5_pca_reduce" -> QueryDef(
      (s, dir) => {
        val docs = EntityFrame(
          table(s, dir, "documents").select(col("doc_id"), col("text")),
          "docs", "doc_id")
        val emb = HashTokenEncoder(2, sif = true).encode(docs, None)
        graft.encoders.PcRemoval.pcaProject(emb, dims = 2, outDims = 1)
          .select(col("id").cast("long").as("doc_id"),
            Num.stableRound(get(col("vec"), lit(0)), 6).as("c0"))
          .orderBy("doc_id")
      },
      Some {
        s"""$sifPcCtes,
           |canon AS (SELECT
           |  CASE WHEN (CASE WHEN abs(px) >= abs(py) THEN px ELSE py END) < 0
           |       THEN -px ELSE px END AS px,
           |  CASE WHEN (CASE WHEN abs(px) >= abs(py) THEN px ELSE py END) < 0
           |       THEN -py ELSE py END AS py
           |  FROM pcn)
           |SELECT doc_id, floor((d0*px + d1*py) * 1e6 + 0.5) / 1e6 AS c0
           |FROM emb, canon ORDER BY doc_id""".stripMargin
      },
      api = "PcaReducer",
      desc = "PCA dimensionality reduction of embeddings — Gram-matrix eigendecomposition, d×d never data-sized."),

    // ---- IVF recall report (honest ANN approximation gate) ---------------
    // same search task for both paths (even queries vs odd candidates);
    // recall@3 = |brute∩ivf| / 3 per query, averaged. The number to
    // check BEFORE trading the brute-force baseline for the bucketed
    // path at scale — a recall this query pins is a recall the
    // production path actually delivers, same tie-breaking both engines.
    "ann_ivf_recall" -> QueryDef(
      (s, dir) => {
        val e = embs(s, dir)
        val (l, r) = evenOdd(e)
        val brute = Similarity.topKCosine(l, r, 3)
          .select(col("left_id"), col("right_id"))
        val (_, bucketed) = ivfSides(e)
        val ivf = Similarity.ivfTopK(l, bucketed, 3)
          .select(col("left_id"), col("right_id"), lit(1).as("_hit"))
        val perQuery = brute.join(ivf, Seq("left_id", "right_id"), "left")
          .groupBy("left_id")
          .agg((sum(coalesce(col("_hit"), lit(0))) / 3.0).as("rec"))
        perQuery.agg(count(lit(1)).as("n_queries"),
          Num.stableRound(avg(col("rec")), 6).as("recall_at3"))
      },
      Some(s"""WITH ${evenOddDotsCtes("vec_id, label", "bdots")},
             |$ivfRecallProbeCtes
             |assign AS (SELECT vec_id, label FROM (
             |${cellRankSql("qdots", "norms", "q")} WHERE rn = 1),
             |idots AS (
             |  SELECT s.vec_id AS left_id, b.vec_id AS right_id, sum(a.v * b.v) AS dot
             |  FROM assign s JOIN expl a ON a.vec_id = s.vec_id
             |                JOIN oddexpl b ON b.label = s.label AND b.i = a.i
             |  GROUP BY 1, 2),
             |${top3IdsCte("ivf", "idots", "")},
             |pq AS (
             |  SELECT b.left_id,
             |         sum(CASE WHEN i.right_id IS NOT NULL THEN 1 ELSE 0 END) / 3.0 AS rec
             |  FROM brute b LEFT JOIN ivf i
             |    ON i.left_id = b.left_id AND i.right_id = b.right_id
             |  GROUP BY 1)
             |SELECT count(*) AS n_queries,
             |       floor((avg(rec)) * 1e6 + 0.5) / 1e6 AS recall_at3
             |FROM pq""".stripMargin),
      api = "Similarity.ivfTopK vs topKCosine",
      desc = "Recall@k of IVF against the exact baseline with a pinned floor — the honest-approximation gate.",
      auditAllow = Some("contains the documented brute-force baseline (broadcast query side) it measures IVF recall against")),

    // ---- IVF recall-vs-probes curve on CLUSTERABLE embeddings -------------
    // ann_ivf_recall's honest 0.19 on the random embedding fixture proves
    // the gate works but says nothing about the multi-probe knob; this
    // query pins the knob's rising curve the way mh_lsh_tuning pins the
    // LSH S-curve. Embeddings are synthesized DETERMINISTICALLY with real
    // cluster structure: 8 md5-derived centers (amplitude 1) plus
    // per-vector md5 noise (amplitude 0.5), identically reproducible in
    // DuckDB — so recall@3 rises with probes by construction and the
    // whole curve is hash-pinned, not asserted.
    "ann_ivf_recall_curve" -> QueryDef(
      (s, dir) => {
        val lab = pmod(col("vec_id"), lit(8))
        // persist: the synthetic vector build is 128 md5 evaluations per
        // row, and the frame feeds four subtrees (IVF assignment, bucket
        // members, both brute-baseline sides); released via the seal on
        // the 4-row curve
        val e = embs(s, dir).select(col("vec_id"), lab.as("lab"),
          transform(sequence(lit(0), lit(63)), i =>
            (Text.md5Long(concat(lab, lit(":"), i)) % 2001 - 1000) / 1000.0
              + (Text.md5Long(concat(col("vec_id"), lit("n"), i)) % 2001 - 1000) / 2000.0
          ).as("vec"))
          .persist()
        val q = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("id"), col("vec"))
        val bucketed = e.filter(col("vec_id") % 2 === 1)
          .select(col("lab").cast("string").as("bucket"),
            col("vec_id").as("id"), col("vec"))
        graft.core.CacheScope.seal(
          Similarity.ivfRecallCurve(q, bucketed, 3, Seq(1, 2, 4, 8))
            .orderBy("probes"),
          e)
      },
      Some(s"""WITH expl AS (
             |  SELECT vec_id, vec_id % 8 AS label, i.i - 1 AS i,
             |         ((('0x'||substr(md5((vec_id % 8) || ':' || (i.i - 1)), 1, 15))::bigint
             |             % 2001 - 1000) / 1000.0
             |          + (('0x'||substr(md5(vec_id || 'n' || (i.i - 1)), 1, 15))::bigint
             |             % 2001 - 1000) / 2000.0) AS v
             |  FROM embeddings, range(1, 65) i(i)),
             |${normsCte("norms", "expl")},
             |${evenOddDotsCte("bdots")},
             |$ivfRecallProbeCtes
             |assign AS (
             |${cellRankSql("qdots", "norms", "q")},
             |grid AS (SELECT * FROM (VALUES (1), (2), (4), (8)) g(p)),
             |cand AS (SELECT g.p, a.vec_id, a.label
             |         FROM assign a JOIN grid g ON a.rn <= g.p),
             |idots AS (
             |  SELECT c.p, c.vec_id AS left_id, b.vec_id AS right_id,
             |         sum(a.v * b.v) AS dot
             |  FROM cand c JOIN expl a ON a.vec_id = c.vec_id
             |              JOIN oddexpl b ON b.label = c.label AND b.i = a.i
             |  GROUP BY 1, 2, 3),
             |${top3IdsCte("ivf", "idots", "p, ")},
             |pq AS (
             |  SELECT g.p, b.left_id,
             |         sum(CASE WHEN i.right_id IS NOT NULL THEN 1 ELSE 0 END) / 3.0 AS rec
             |  FROM brute b CROSS JOIN grid g
             |  LEFT JOIN ivf i ON i.p = g.p AND i.left_id = b.left_id
             |                  AND i.right_id = b.right_id
             |  GROUP BY 1, 2)
             |SELECT p AS probes, count(*) AS n_queries,
             |       floor((avg(rec)) * 1e6 + 0.5) / 1e6 AS recall_at3
             |FROM pq GROUP BY 1 ORDER BY probes""".stripMargin),
      api = "Similarity.ivfRecallCurve",
      desc = "Recall-vs-nprobe curve from ONE clustering pass serving the whole probe sweep."),

    // ---- LSH (b, r) tuning S-curves --------------------------------------
    "mh_lsh_tuning" -> QueryDef(
      (s, dir) => MinHash.lshTuningCurve(s,
          Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)))
        .orderBy("s", "b"),
      Some("""WITH grid AS (SELECT i / 20.0 AS s FROM range(1, 20) r(i)),
             |cfg AS (SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4),
             |                              (2, 8), (1, 16)) v(b, r))
             |SELECT floor(s * 1e6 + 0.5) / 1e6 AS s, b, r,
             |       floor((1 - power(1 - power(s, r), b)) * 1e6 + 0.5) / 1e6
             |         AS p_collide
             |FROM grid, cfg ORDER BY s, b""".stripMargin),
      api = "MinHash.lshTuningCurve",
      desc = "LSH (b,r) S-curve table: collision probability at threshold grid per banding — the tuning surface, pure arithmetic.",
      auditAllow = Some("5-row (b, r) config table crossJoin(broadcast) over the 19-row similarity grid (MinHash.lshTuningCurve)"))
  )
}
