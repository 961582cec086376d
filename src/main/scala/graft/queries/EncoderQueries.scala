package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blockers._
import graft.core.{Blocks, EntityFrame}
import graft.encoders.{GraphPropagationEncoder, HashTokenEncoder, LightEAEncoder}
import graft.eval.Evaluation
import graft.functions.Num
import QueryDef.{docTokenSidesSql, duckTokens, table}

/** Encoder + embedding-blocker queries (SURVEY.md §2.8 M8-M11, W5, A10).
  * Graph framing: a restricted orders/parts graph (l_orderkey % 20 = 0)
  * keeps the 2-round propagation oracle tractable. */
object EncoderQueries {

  private def relFrame(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem").filter(col("l_orderkey") % 20 === 0).select(
      concat(lit("o"), col("l_orderkey")).as("head"),
      concat(lit("ln_"), col("l_linenumber")).as("rel"),
      concat(lit("p"), col("l_partkey")).as("tail"))

  private def attrFrame(s: SparkSession, dir: String): EntityFrame = {
    val rel = relFrame(s, dir)
    val ids = rel.select(col("head").as("id"))
      .unionByName(rel.select(col("tail").as("id"))).distinct()
    EntityFrame(
      RelationalQueries.attrTriples(s, dir).join(ids.withColumnRenamed("id", "head"), Seq("head"), "left_semi"),
      "graph", "head", isTriple = true)
  }

  private val relSql =
    """SELECT 'o'||l_orderkey AS head, 'p'||l_partkey AS tail
      |FROM lineitem WHERE l_orderkey % 20 = 0""".stripMargin

  /** Same restricted graph WITH relation names (LightEA needs them). */
  private val rel3Sql =
    """SELECT 'o'||l_orderkey AS head, 'ln_'||l_linenumber AS rel, 'p'||l_partkey AS tail
      |FROM lineitem WHERE l_orderkey % 20 = 0""".stripMargin

  /** The A11-A12 comparison framing: three independent blockings of a
    * documents split (token-overlap on text, key-equality on lang and on
    * source) with the synthetic (doc_id, doc_id+1) gold. Returns
    * (tok, lang, src, gold, leftLen, rightLen).
    *
    * Scale framing: the documents corpus has a tiny shared vocabulary
    * (~30 tokens, each in ~80% of docs), so an UNCAPPED token blocking
    * degenerates to the full cross product — enumerating it just to
    * evaluate it is exactly what you would never do at 100 TB. The
    * framing therefore (a) evaluates on the doc_id % 10 ∈ {0, 1} split
    * (sides stay disjoint, gold stays (d, d+1)), and (b) engages the
    * hot-token cap (maxBlockComparisons = 1700): at sf0.01 the cap
    * actively prunes the hottest keys (hash-verified by the oracle,
    * which applies the identical nl·nr rule), at larger SFs only
    * discriminative tokens survive — the purge-before-enumerate contract
    * P10/W3 demand at scale. */
  private val TokCap = 1700L

  /** Every a11_/a12_ query consumes each blocking TWICE (the fused
    * counting action + the TP-set pass), so the three block tables are
    * returned PERSISTED — the caller releases them via CacheScope.seal
    * on its (one-row / few-row) output. The two side cardinalities come
    * from one fused aggregate over the shared scan instead of two
    * separate count() actions (count(when) ≡ filter().count()). */
  private def docBlockings(s: SparkSession, dir: String)
      : (Blocks, Blocks, Blocks, DataFrame, Long, Long) = {
    val docs = table(s, dir, "documents").filter(col("doc_id") % 10 < 2)
    def side(p: Int, c: String) = EntityFrame(
      docs.filter(col("doc_id") % 10 === p).select(col("doc_id"), col(c)),
      s"side$p", "doc_id")
    val tok = Blocks(TokenBlocker(maxBlockComparisons = TokCap)
      .assign(side(0, "text"), side(1, "text")).df.persist())
    val lang = Blocks(StandardBlocker("lang")
      .assign(side(0, "lang"), side(1, "lang")).df.persist())
    val src = Blocks(StandardBlocker("source")
      .assign(side(0, "source"), side(1, "source")).df.persist())
    val gold = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("l"), (col("doc_id") + 1).as("r"))
    val cnt = docs.agg(
      count(when(col("doc_id") % 10 === 0, lit(1))).as("nl"),
      count(when(col("doc_id") % 10 === 1, lit(1))).as("nr")).head()
    (tok, lang, src, gold, cnt.getLong(0), cnt.getLong(1))
  }

  /** Shared oracle CTE prefix for a11_/a12_: per-blocker distinct
    * candidate pairs (`cand`), TP pairs (`tps`), and the metric row per
    * blocker (`m2` — tp, pairs, fp, rec, prec, rr, f, h3r + gc/total
    * constants). The `names` anchor keeps a zero-pair blocker present
    * with pairs=0 (matching the engine, which always emits a row). */
  private lazy val multiBlockSqlPrefix: String =
    s"""WITH lt AS (SELECT DISTINCT * FROM (
       |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 10 = 0)")})),
       |rt AS (SELECT DISTINCT * FROM (
       |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 10 = 1)")})),
       |kept AS (SELECT key FROM (SELECT key, count(*) AS nl FROM lt GROUP BY 1)
       |         JOIN (SELECT key, count(*) AS nr FROM rt GROUP BY 1) USING (key)
       |         WHERE nl * nr <= $TokCap),
       |tokp AS (SELECT DISTINCT lt.id AS l, rt.id AS r
       |         FROM lt JOIN rt USING (key) SEMI JOIN kept USING (key)),
       |langp AS (SELECT DISTINCT cast(a.doc_id AS varchar) AS l, cast(b.doc_id AS varchar) AS r
       |          FROM documents a JOIN documents b ON a.lang = b.lang
       |          WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 = 1),
       |srcp AS (SELECT DISTINCT cast(a.doc_id AS varchar) AS l, cast(b.doc_id AS varchar) AS r
       |         FROM documents a JOIN documents b ON a.source = b.source
       |         WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 = 1),
       |gold AS (SELECT cast(doc_id AS varchar) AS l, cast(doc_id + 1 AS varchar) AS r
       |         FROM documents WHERE doc_id % 10 = 0),
       |cons AS (SELECT (SELECT count(*) FROM gold) AS gc,
       |                (SELECT count(*) FROM documents WHERE doc_id % 10 = 0)
       |                * (SELECT count(*) FROM documents WHERE doc_id % 10 = 1) AS total),
       |names AS (SELECT unnest(['lang', 'src', 'tok']) AS blocker),
       |cand AS (SELECT 'tok' AS blocker, l, r FROM tokp
       |         UNION ALL SELECT 'lang', l, r FROM langp
       |         UNION ALL SELECT 'src', l, r FROM srcp),
       |tps AS (SELECT blocker, l, r FROM cand SEMI JOIN gold USING (l, r)),
       |per AS (SELECT blocker, coalesce(cnt, 0) AS pairs FROM names
       |        LEFT JOIN (SELECT blocker, count(*) AS cnt FROM cand GROUP BY 1) USING (blocker)),
       |tpc AS (SELECT blocker, count(*) AS tp FROM tps GROUP BY 1),
       |m AS (SELECT p.blocker, coalesce(tp, 0) AS tp, pairs,
       |             pairs - coalesce(tp, 0) AS fp, gc, total,
       |             coalesce(tp, 0) / gc AS rec,
       |             CASE WHEN pairs = 0 THEN 0 ELSE coalesce(tp, 0) / pairs END AS prec,
       |             1 - pairs / total AS rr
       |      FROM per p LEFT JOIN tpc USING (blocker) CROSS JOIN cons),
       |m2 AS (SELECT *,
       |       CASE WHEN rec + prec = 0 THEN 0 ELSE 2*rec*prec/(rec+prec) END AS f,
       |       CASE WHEN rr + rec = 0 THEN 0 ELSE 2*rr*rec/(rr+rec) END AS h3r
       |       FROM m)""".stripMargin

  /** Joint (tok ⊕ lang) evaluation — `from_joined_evals` algebra: TP set
    * UNION, comparisons and false positives SUMMED. */
  private lazy val joinedEvalSqlTail: String =
    s""",
       |j AS (SELECT
       |  (SELECT count(*) FROM (SELECT l, r FROM tps WHERE blocker IN ('tok','lang') GROUP BY 1, 2)) AS tpu,
       |  (SELECT sum(pairs)::bigint FROM m2 WHERE blocker IN ('tok','lang')) AS pairs,
       |  (SELECT sum(fp)::bigint FROM m2 WHERE blocker IN ('tok','lang')) AS fp,
       |  (SELECT gc FROM cons) AS gc, (SELECT total FROM cons) AS total),
       |x AS (SELECT tpu, pairs, tpu / gc AS rec,
       |      CASE WHEN tpu + fp = 0 THEN 0 ELSE tpu / (tpu + fp) END AS prec,
       |      1 - pairs / total AS rr FROM j)
       |SELECT tpu AS tp, pairs,
       |  ${Num.stableRoundSql("rec", 6)} AS recall,
       |  ${Num.stableRoundSql("prec", 6)} AS precision,
       |  ${Num.stableRoundSql("CASE WHEN rec + prec = 0 THEN 0 ELSE 2*rec*prec/(rec+prec) END", 6)} AS f_measure,
       |  ${Num.stableRoundSql("rr", 6)} AS reduction_ratio,
       |  ${Num.stableRoundSql("CASE WHEN rr + rec = 0 THEN 0 ELSE 2*rr*rec/(rr+rec) END", 6)} AS h3r
       |FROM x""".stripMargin

  /** The reference's multiple_block_comparison table: one row per ORDERED
    * blocker pair with percent h3r improvement of joining base with other
    * and the Dice coefficient of their TP sets. */
  private lazy val multiCompareSqlTail: String =
    s""",
       |prs AS (SELECT a.blocker AS base, b.blocker AS other, count(*) AS ni
       |        FROM tps a JOIN tps b ON a.l = b.l AND a.r = b.r AND a.blocker <> b.blocker
       |        GROUP BY 1, 2),
       |cmp AS (SELECT x.blocker AS base, y.blocker AS other,
       |        x.tp AS xtp, y.tp AS ytp, x.pairs + y.pairs AS jpairs,
       |        coalesce(ni, 0) AS ni, x.h3r AS bh3r, x.gc AS gc, x.total AS total
       |        FROM m2 x JOIN m2 y ON x.blocker <> y.blocker
       |        LEFT JOIN prs ON prs.base = x.blocker AND prs.other = y.blocker),
       |jm AS (SELECT base, other,
       |       (xtp + ytp - ni) / gc AS jrec, 1 - jpairs / total AS jrr,
       |       CASE WHEN xtp + ytp = 0 THEN 0 ELSE 2.0 * ni / (xtp + ytp) END AS dice,
       |       bh3r FROM cmp),
       |jm2 AS (SELECT base, other, dice, bh3r,
       |        CASE WHEN jrr + jrec = 0 THEN 0 ELSE 2*jrr*jrec/(jrr+jrec) END AS jh3r
       |        FROM jm)
       |SELECT base, other,
       |  ${Num.stableRoundSql("CASE WHEN bh3r = 0 THEN 0 ELSE (jh3r - bh3r) / bh3r END", 6)} AS improvement_h3r,
       |  ${Num.stableRoundSql("dice", 6)} AS dice_tp
       |FROM jm2 ORDER BY base, other""".stripMargin

  /** Per-blocker report: own metrics + Dice vs the best blocking (by
    * h3r, ties to the smaller name) + the h3r percent improvement the
    * best gains when joined with this blocking (0 for the best). */
  private lazy val blockerReportSqlTail: String =
    s""",
       |best AS (SELECT blocker AS bb, tp AS btp, pairs AS bpairs, h3r AS bh3r
       |         FROM m2 ORDER BY h3r DESC, blocker ASC LIMIT 1),
       |ints AS (SELECT a.blocker, count(*) AS ni FROM tps a
       |         JOIN tps b ON a.l = b.l AND a.r = b.r AND b.blocker = (SELECT bb FROM best)
       |         GROUP BY 1),
       |rep AS (SELECT m2.blocker, m2.blocker = bb AS is_best, m2.tp, m2.pairs,
       |        rec, prec, f, rr, h3r,
       |        CASE WHEN m2.tp + btp = 0 THEN 0
       |             ELSE 2.0 * coalesce(ni, 0) / (m2.tp + btp) END AS dice,
       |        (m2.tp + btp - coalesce(ni, 0)) / gc AS jrec,
       |        1 - (m2.pairs + bpairs) / total AS jrr, bh3r
       |        FROM m2 CROSS JOIN best LEFT JOIN ints ON ints.blocker = m2.blocker),
       |rep2 AS (SELECT *, CASE WHEN jrr + jrec = 0 THEN 0 ELSE 2*jrr*jrec/(jrr+jrec) END AS jh3r
       |         FROM rep)
       |SELECT blocker, is_best, tp, pairs,
       |  ${Num.stableRoundSql("rec", 6)} AS recall,
       |  ${Num.stableRoundSql("prec", 6)} AS precision,
       |  ${Num.stableRoundSql("f", 6)} AS f_measure,
       |  ${Num.stableRoundSql("rr", 6)} AS reduction_ratio,
       |  ${Num.stableRoundSql("h3r", 6)} AS h3r,
       |  ${Num.stableRoundSql("dice", 6)} AS dice_vs_best,
       |  ${Num.stableRoundSql("CASE WHEN is_best OR bh3r = 0 THEN 0 ELSE (jh3r - bh3r) / bh3r END", 6)} AS improvement_h3r
       |FROM rep2 ORDER BY blocker""".stripMargin

  /** One parity side of the documents table as distinct 3-gram shingles
    * (same construction as DedupQueries' docShingles). */
  private def shingleSideSql(parity: Int) =
    DedupQueries.shinglesSql(s"documents WHERE doc_id % 2 = $parity")

  /** True near-dup gold across the %2 parity split: 3-gram shingle
    * jaccard >= 0.5. Only genuinely copied text passes at this
    * threshold, so the gold is a real duplicate-detection target the
    * embedding blockers should recall. */
  private val shingleGoldSql =
    s"""SELECT l, r FROM (
       |  SELECT lt.id AS l, rt.id AS r, count(*) AS i
       |  FROM (${shingleSideSql(0)}) lt JOIN (${shingleSideSql(1)}) rt USING (key)
       |  GROUP BY 1, 2) x
       |JOIN (SELECT id, count(*) AS sz FROM (${shingleSideSql(0)}) GROUP BY id) sa ON sa.id = x.l
       |JOIN (SELECT id, count(*) AS sz FROM (${shingleSideSql(1)}) GROUP BY id) sb ON sb.id = x.r
       |WHERE i::double / (sa.sz + sb.sz - i) >= 0.5""".stripMargin

  /** Spark side of [[shingleGoldSql]] (dd_ngram_jaccard's shingle/jaccard
    * construction restricted to the parity split). */
  private def shingleGold(docs: DataFrame): DataFrame = {
    import graft.functions.Text
    def sh(p: Int, idc: String) = docs.filter(col("doc_id") % 2 === p)
      .select(col("doc_id").cast("string").as(idc),
        explode(Text.wordShingles(
          Text.tokenize(col("text"), minLength = 1, stopwords = Nil), 3)).as("key"))
      .distinct()
    val lt = sh(0, "l")
    val rt = sh(1, "r")
    lt.join(rt, Seq("key")).groupBy("l", "r").agg(count(lit(1)).as("i"))
      .join(lt.groupBy("l").agg(count(lit(1)).as("szl")), Seq("l"))
      .join(rt.groupBy("r").agg(count(lit(1)).as("szr")), Seq("r"))
      .filter(col("i").cast("double") / (col("szl") + col("szr") - col("i")) >= 0.5)
      .select("l", "r")
  }

  /** One parity side of `docs` as a (doc_id, text) entity frame. */
  private def textSide(docs: DataFrame, p: Int): EntityFrame = EntityFrame(
    docs.filter(col("doc_id") % 2 === p).select(col("doc_id"), col("text")),
    s"side$p", "doc_id")

  /** Ids of one parity side the encoder can see (≥ 1 qualifying token)
    * — deterministic on both engines. */
  private def encodableIds(docs: DataFrame, p: Int): DataFrame =
    docs.filter(col("doc_id") % 2 === p)
      .select(col("doc_id").cast("string").as("id"),
        size(graft.functions.Text.tokenize(col("text"))).as("_n"))
      .filter(col("_n") > 0).select("id")

  /** The embedding blockers' invariant counts: the shingle gold size and
    * the encodable left ids; the caller appends its `true` flags. */
  private val invariantCountsSql: String =
    s"""WITH enc AS (SELECT DISTINCT id FROM (
       |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 2 = 0)")})),
       |g AS ($shingleGoldSql)
       |SELECT (SELECT count(*) FROM g) AS n_gold,
       |       (SELECT count(*) FROM enc) AS n_left,""".stripMargin

  /** conc text + tokens + md5 pseudo-embedding f0 per graph entity. */
  private val f0Sql =
    s"""WITH rel AS ($relSql),
       |gids AS (SELECT DISTINCT head AS id FROM rel UNION SELECT DISTINCT tail FROM rel),
       |attr AS (
       |  SELECT 'o'||o_orderkey AS head, o_orderstatus AS tail FROM orders
       |  UNION ALL SELECT 'o'||o_orderkey, o_orderpriority FROM orders
       |  UNION ALL SELECT 'p'||p_partkey, p_name FROM part),
       |conc AS (
       |  SELECT a.head AS id, string_agg(DISTINCT trim(a.tail), ' ' ORDER BY trim(a.tail)) AS txt
       |  FROM attr a SEMI JOIN gids g ON a.head = g.id
       |  WHERE a.tail IS NOT NULL GROUP BY a.head),
       |toks AS (${duckTokens("id", "txt", "conc")}),
       |hashed AS (SELECT id, ${graft.encoders.HashTokenEncoder.tokenHashSql("key")} AS x FROM toks),
       |f0 AS (
       |  SELECT id, c.d AS pos,
       |    avg((((c.a * x + c.b) % ${graft.functions.MinHash.Modulus}) % 2001 - 1000)/1000.0) AS v
       |  FROM hashed, ${graft.encoders.HashTokenEncoder.dimConstsSqlValues(8)} c(d, a, b)
       |  GROUP BY id, c.d)""".stripMargin

  /** One propagation round as SQL over f_{r-1} named `fin`. */
  private def roundSql(fin: String, fout: String): String =
    s"""$fout AS (
       |  SELECT own.id, own.pos, own.v / 2.0 + coalesce(msg.m, 0.0) AS v
       |  FROM $fin own LEFT JOIN (
       |    SELECT e.dst AS id, f.pos,
       |           sum(f.v / (sqrt(ds.deg * dd.deg) * 2.0)) AS m
       |    FROM edges e
       |    JOIN $fin f ON f.id = e.src
       |    JOIN deg ds ON ds.id = e.src
       |    JOIN deg dd ON dd.id = e.dst
       |    GROUP BY e.dst, f.pos) msg
       |  ON own.id = msg.id AND own.pos = msg.pos)""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- M8/M10: GCN-style propagation, 2 rounds --------------------------
    "m8_graph_propagation" -> QueryDef(
      (s, dir) => {
        val enc = GraphPropagationEncoder(HashTokenEncoder(8), rounds = 2)
        enc.encode(attrFrame(s, dir), Some(relFrame(s, dir)))
          .select(col("id"), posexplode(col("vec")).as(Seq("pos", "v")))
          // "+ 0.0" folds IEEE -0.0 to +0.0, mirroring the oracle SQL
          // gridSafeRound: the propagated values are sums of k/1000 hash
          // features — EXACT decimal rationals whose true values land on
          // x.5 rounding boundaries systematically, while each engine's
          // groupBy sum order puts its computed double an ulp on either
          // side (three different cells flipped in three sf0.1 runs).
          // The 1e-9 nudge resolves every boundary identically in both
          // engines; 4 decimals bounds how often boundaries occur at all
          .select(col("id"), col("pos"), (Num.gridSafeRound(col("v"), 4) + lit(0.0)).as("v"))
          .orderBy("id", "pos")
      },
      Some(s"""$f0Sql,
              |edges AS (
              |  SELECT head AS src, tail AS dst FROM rel
              |  UNION SELECT tail, head FROM rel),
              |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
              |${roundSql("f0", "f1")},
              |${roundSql("f1", "f2")}
              |-- "+ 0.0" folds IEEE -0.0 (DuckDB keeps the sign of a negative
              |-- value that rounds to zero) to +0.0, matching Spark's output.
              |SELECT id, pos::int AS pos, floor(((v) + 1e-9) * 1e4 + 0.5) / 1e4 + 0.0 AS v
              |FROM f2 ORDER BY id, pos""".stripMargin),
      api = "GraphPropagationEncoder.encode",
      desc = "GCN-style neighbor averaging over the relation graph (2 rounds) on hashed token features — one join per round, degree-normalized."),

    // ---- M9: LightEA three-view propagation, depth 2 ----------------------
    // oracle replays the three views in SQL: direction-tagged edges,
    // ent_ent (distinct-rel counts + incident-triple diagonal), rel_ent /
    // ent_rel; the round-2 rel features are never consumed (the reference
    // only concatenates ENTITY channels), so the oracle computes rel
    // features once.
    "m9_lightea_embedding" -> QueryDef(
      (s, dir) => {
        LightEAEncoder(HashTokenEncoder(8), depth = 2, dims = 8)
          .encode(attrFrame(s, dir), Some(relFrame(s, dir)))
          .select(col("id"), posexplode(col("vec")).as(Seq("pos", "v")))
          // "+ 0.0" folds IEEE -0.0 to +0.0, mirroring the oracle SQL
          // 4 decimals: groupBy-sum order differs between engines (1-ulp
          // noise); unlike m8 the channels are L2-normalized (irrational
          // values — no systematic boundary landings), so coarser
          // precision alone makes a boundary hit measure-zero
          .select(col("id"), col("pos"), (Num.stableRound(col("v"), 4) + lit(0.0)).as("v"))
          .orderBy("id", "pos")
      },
      Some(s"""$f0Sql,
              |rel3 AS ($rel3Sql),
              |tedges AS (
              |  SELECT head AS src, tail AS dst, rel||'>' AS r FROM rel3
              |  UNION SELECT tail, head, rel||'<' FROM rel3),
              |offd AS (SELECT src, dst, count(*)::double AS w FROM tedges GROUP BY 1, 2),
              |ddiag AS (SELECT n AS src, n AS dst, count(*)::double AS w FROM (
              |    SELECT src AS n FROM tedges UNION ALL SELECT dst FROM tedges) GROUP BY n),
              |ee AS (SELECT src, dst, sum(w) AS w FROM (
              |    SELECT * FROM offd UNION ALL SELECT * FROM ddiag) GROUP BY 1, 2),
              |re AS (SELECT DISTINCT r, src FROM tedges),
              |er AS (SELECT DISTINCT dst AS id, r FROM tedges),
              |r1raw AS (SELECT re.r, f.pos, sum(f.v) AS v
              |          FROM re JOIN f0 f ON f.id = re.src GROUP BY 1, 2),
              |r1n AS (SELECT r, sqrt(sum(v*v)) AS nrm FROM r1raw GROUP BY r),
              |r1 AS (SELECT a.r, a.pos,
              |           CASE WHEN b.nrm = 0 THEN a.v ELSE a.v / b.nrm END AS v
              |       FROM r1raw a JOIN r1n b USING (r)),
              |e1raw AS (SELECT ee.src AS id, f.pos, sum(ee.w * f.v) AS v
              |          FROM ee JOIN f0 f ON f.id = ee.dst GROUP BY 1, 2),
              |e1n AS (SELECT id, sqrt(sum(v*v)) AS nrm FROM e1raw GROUP BY id),
              |e1 AS (SELECT a.id, a.pos,
              |           CASE WHEN b.nrm = 0 THEN a.v ELSE a.v / b.nrm END AS v
              |       FROM e1raw a JOIN e1n b USING (id)),
              |e2raw AS (SELECT id, pos, sum(v) AS v FROM (
              |    SELECT ee.src AS id, f.pos, ee.w * f.v AS v
              |    FROM ee JOIN e1 f ON f.id = ee.dst
              |    UNION ALL
              |    SELECT er.id, r1.pos, r1.v FROM er JOIN r1 USING (r)
              |  ) GROUP BY 1, 2),
              |e2n AS (SELECT id, sqrt(sum(v*v)) AS nrm FROM e2raw GROUP BY id),
              |e2 AS (SELECT a.id, a.pos,
              |           CASE WHEN b.nrm = 0 THEN a.v ELSE a.v / b.nrm END AS v
              |       FROM e2raw a JOIN e2n b USING (id)),
              |stack AS (
              |  SELECT id, pos, v FROM f0
              |  UNION ALL SELECT id, pos + 8, v FROM e1
              |  UNION ALL SELECT id, pos + 16, v FROM e2),
              |fn AS (SELECT id, sqrt(sum(v*v)) AS nrm FROM stack GROUP BY id)
              |-- "+ 0.0" folds IEEE -0.0 (DuckDB keeps the sign of a negative
              |-- value that rounds to zero) to +0.0, matching Spark's output.
              |SELECT s.id, s.pos::int AS pos,
              |       floor((CASE WHEN fn.nrm = 0 THEN s.v ELSE s.v / fn.nrm END) * 1e4 + 0.5) / 1e4 + 0.0 AS v
              |FROM stack s JOIN fn USING (id) ORDER BY id, pos""".stripMargin),
      api = "LightEAEncoder.encode",
      desc = "LightEA three-view (entity/relation/attribute) propagation — sparse joins, no training."),

    // ---- W5: Sinkhorn re-ranking over kNN candidates ----------------------
    "w5_sinkhorn_rerank" -> QueryDef(
      (s, dir) => {
        val (l, r) = SimilarityQueries.evenOdd(table(s, dir, "embeddings"))
        val cand = graft.similarity.Similarity.topKCosine(l, r, 3)
          .select(col("left_id"), col("right_id"), ((col("cos") + 1.0) / 2.0).as("s"))
        graft.similarity.Similarity.topK(Sinkhorn.rescale(cand, 2), 3, col("s").desc)
          .select(col("left_id"), col("rank"), col("right_id"),
            // round-2 on the 1e5-magnitude value: round-6 demanded 12
            // significant digits of cross-engine float reproducibility,
            // and Sinkhorn's groupBy-sum order is not deterministic —
            // a 1-ulp difference occasionally flipped the boundary
            Num.stableRound(col("s") * 1e6, 2).as("s_scaled"))
          .orderBy("left_id", "rank")
      },
      Some(s"""WITH ${SimilarityQueries.evenOddDotsCtes("vec_id", "dots")},
             |cand AS (SELECT left_id, right_id,
             |    (dot / (na.nrm * nb.nrm) + 1.0) / 2.0 AS s
             |  FROM dots JOIN norms na ON na.vec_id = left_id
             |            JOIN norms nb ON nb.vec_id = right_id
             |  QUALIFY row_number() OVER (PARTITION BY left_id
             |      ORDER BY dot / (na.nrm * nb.nrm) DESC, right_id ASC) <= 3),
             |i1r AS (SELECT left_id, right_id,
             |    s / sum(s) OVER (PARTITION BY left_id) AS s FROM cand),
             |i1c AS (SELECT left_id, right_id,
             |    s / sum(s) OVER (PARTITION BY right_id) AS s FROM i1r),
             |i2r AS (SELECT left_id, right_id,
             |    s / sum(s) OVER (PARTITION BY left_id) AS s FROM i1c),
             |i2c AS (SELECT left_id, right_id,
             |    s / sum(s) OVER (PARTITION BY right_id) AS s FROM i2r)
             |SELECT left_id,
             |  row_number() OVER (PARTITION BY left_id ORDER BY s DESC, right_id ASC)::int AS rank,
             |  right_id, floor((s * 1e6) * 1e2 + 0.5) / 1e2 AS s_scaled
             |FROM i2c ORDER BY left_id, rank""".stripMargin),
      api = "Sinkhorn.rescale",
      desc = "Sinkhorn row/column normalization re-ranking of kNN candidate scores (W5) — iterations over the candidate table only."),

    // ---- A11/A12: joint + N-way blocker evaluation ------------------------
    // Three cheap SQL-expressible blockings over the documents parity
    // split (token / lang-key / source-key) share one oracle CTE prefix
    // (multiBlockSqlPrefix below): per-blocker distinct candidate pairs,
    // TP sets vs the (doc_id, doc_id+1) gold, and the full metric row.
    // Engine best-pick and SQL best-pick agree bit-for-bit because both
    // compute h3r with the identical double expression tree
    // (2*rr*rec/(rr+rec) over integer-derived ratios).
    "a11_joined_eval" -> QueryDef(
      (s, dir) => {
        val (tok, lang, src, gold, nl, nr) = docBlockings(s, dir)
        graft.core.CacheScope.seal(
          Evaluation.resultDF(s, Evaluation.joinedEvaluate(tok, lang, gold, nl, nr)),
          tok.df, lang.df, src.df)
      },
      Some(multiBlockSqlPrefix + joinedEvalSqlTail),
      api = "Evaluation.joinedEvaluate",
      desc = "Joint metrics of two blockings without re-blocking (from_joined_evals algebra): TP-union + summed comparisons."),

    "a11_multi_compare" -> QueryDef(
      (s, dir) => {
        val (tok, lang, src, gold, nl, nr) = docBlockings(s, dir)
        graft.core.CacheScope.seal(
          Evaluation.multipleBlockComparison(s,
            Seq("lang" -> lang, "src" -> src, "tok" -> tok), gold, nl, nr),
          tok.df, lang.df, src.df)
      },
      Some(multiBlockSqlPrefix + multiCompareSqlTail),
      api = "Evaluation.multipleBlockComparison",
      desc = "N-way blocker comparison: per-pair joined-h3r improvement + TP Dice; all n evaluations and intersections from ONE bit_or group-by action (never n² set ops). Token blocking capped via maxBlockComparisons."),

    "a12_blocker_report" -> QueryDef(
      (s, dir) => {
        val (tok, lang, src, gold, nl, nr) = docBlockings(s, dir)
        graft.core.CacheScope.seal(
          Evaluation.comparisonReport(s,
            Seq("lang" -> lang, "src" -> src, "tok" -> tok), gold, nl, nr),
          tok.df, lang.df, src.df)
      },
      Some(multiBlockSqlPrefix + blockerReportSqlTail),
      api = "Evaluation.comparisonReport",
      desc = "Per-blocker report vs the best blocking (own metrics, Dice-vs-best, h3r a best+this join would add) — same cost shape as the N-way compare."),

    // ---- A10: dice overlap of two blockings' true-positive sets -----------
    "a10_dice_tp" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        def side(p: Int, c: String) = EntityFrame(
          docs.filter(col("doc_id") % 2 === p).select(col("doc_id"), col(c)),
          s"side$p", "doc_id")
        val tok = TokenBlocker().assign(side(0, "text"), side(1, "text"))
        val lang = StandardBlocker("lang").assign(side(0, "lang"), side(1, "lang"))
        val gold = docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("l"), (col("doc_id") + 1).as("r"))
        val dice = Evaluation.diceOfTruePositives(tok, lang, gold)
        s.range(1).select(Num.stableRound(lit(dice), 6).as("dice"))
      },
      Some(s"""$docTokenSidesSql
              |tok_pairs AS (SELECT DISTINCT lt.id AS l, rt.id AS r FROM lt JOIN rt USING (key)),
              |lang_pairs AS (
              |  SELECT DISTINCT cast(a.doc_id AS varchar) AS l, cast(b.doc_id AS varchar) AS r
              |  FROM documents a JOIN documents b ON a.lang = b.lang
              |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
              |gold AS (SELECT cast(doc_id AS varchar) AS l, cast(doc_id + 1 AS varchar) AS r
              |         FROM documents WHERE doc_id % 2 = 0),
              |tpa AS (SELECT * FROM tok_pairs SEMI JOIN gold USING (l, r)),
              |tpb AS (SELECT * FROM lang_pairs SEMI JOIN gold USING (l, r)),
              |m AS (SELECT
              |  (SELECT count(*) FROM tpa) AS na,
              |  (SELECT count(*) FROM tpb) AS nb,
              |  (SELECT count(*) FROM tpa SEMI JOIN tpb USING (l, r)) AS ni)
              |SELECT floor((CASE WHEN na + nb = 0 THEN 0
              |             ELSE 2.0 * ni / (na + nb) END) * 1e6 + 0.5) / 1e6 AS dice FROM m""".stripMargin),
      api = "Evaluation.diceOfTruePositives",
      desc = "Dice coefficient of two blockings' TP sets — TP via explode+semi-join (no pair enumeration), all three scalars from ONE bit_or group-by action."),

    // ---- M11 (real clustering) + kNN embedding blocker: invariant-graded --
    // MLlib KMeans internals aren't SQL-reproducible, so instead of
    // dumping seeded cluster contents these queries emit a ONE-ROW
    // invariant summary the DuckDB oracle CAN check: deterministic counts
    // (gold-pair count, encodable-input count — both engine-independent)
    // plus booleans asserting blocker-output invariants and a pinned
    // recall floor vs a gold of TRUE near-dups (3-gram shingle jaccard
    // >= 0.5 across the parity split — the dedup family's own near-dup
    // definition; distinct-TOKEN jaccard is useless as gold here because
    // the corpus vocabulary is ~30 words, so nearly all pairs collide),
    // the reference's own invariant style (tests/test_blockers.py:191-279).
    // A false boolean hash-mismatches the oracle's `true` → red row.
    "m11_kmeans_blocker" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val blocks = KMeansClusterBlocker(HashTokenEncoder(8), numClusters = 8)
          .assign(textSide(docs, 0), textSide(docs, 1)).df.persist()
        def encIds(p: Int) = encodableIds(docs, p)
        val lmem = blocks.select(col(Blocks.KeyCol).as("k"),
          explode(col(Blocks.LeftCol)).as("id"))
        val rmem = blocks.select(col(Blocks.KeyCol).as("k"),
          explode(col(Blocks.RightCol)).as("id"))
        // persist: the shingle-jaccard gold pipeline feeds two branches
        // of the one-row invariant plan (tp join + n_gold count)
        val gold = shingleGold(docs).persist()
        val tp = gold
          .join(lmem.select(col("k"), col("id").as("l")), Seq("l"))
          .join(rmem.select(col("k"), col("id").as("r")), Seq("r", "k"))
          .agg(count(lit(1)).as("n_tp"))
        val lStats = lmem.groupBy("id").agg(count(lit(1)).as("c"))
          .agg(max(col("c")).as("lmax"))
        val rStats = rmem.groupBy("id").agg(count(lit(1)).as("c"))
          .agg(max(col("c")).as("rmax"))
        val lExtra = lmem.select("id").distinct()
          .join(encIds(0), Seq("id"), "left_anti").agg(count(lit(1)).as("l_extra"))
        val rExtra = rmem.select("id").distinct()
          .join(encIds(1), Seq("id"), "left_anti").agg(count(lit(1)).as("r_extra"))
        val nBlocks = blocks.agg(count(lit(1)).as("n_blocks"))
        graft.core.CacheScope.seal(
        gold.agg(count(lit(1)).as("n_gold"))
          .crossJoin(encIds(0).agg(count(lit(1)).as("n_left")))
          .crossJoin(tp).crossJoin(lStats).crossJoin(rStats)
          .crossJoin(lExtra).crossJoin(rExtra).crossJoin(nBlocks)
          .select(col("n_gold"), col("n_left"),
            // a KMeans partition: each id in ≤ 1 cluster, ids from input
            (col("lmax") <= 1 && col("rmax") <= 1 &&
              col("l_extra") === 0 && col("r_extra") === 0).as("membership_ok"),
            (col("n_blocks") >= 1 && col("n_blocks") <= 8).as("n_blocks_ok"),
            // co-cluster recall of the shingle near-dup gold — floor
            // pinned from measured 1.0/0.917/0.908 at sf0.001/0.01/0.1
            (col("n_gold") === 0 ||
              col("n_tp").cast("double") / col("n_gold") >= 0.80).as("recall_ok")),
          blocks, gold) // one-row invariant output; release the caches
      },
      Some(s"""$invariantCountsSql
              |       true AS membership_ok, true AS n_blocks_ok,
              |       true AS recall_ok""".stripMargin),
      api = "KMeansClusterBlocker.assign",
      desc = "MLlib KMeans blocker over propagation embeddings — invariant-graded oracle."),

    "emb_knn_blocker" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val blocks = EmbeddingKnnBlocker(HashTokenEncoder(8), k = 3, sinkhornIterations = 1)
          .assign(textSide(docs, 0), textSide(docs, 1)).df.persist()
        def encIds(p: Int) = encodableIds(docs, p)
        // persist: the shingle-jaccard gold pipeline feeds two branches
        // of the one-row invariant plan (tp join + n_gold count)
        val gold = shingleGold(docs).persist()
        val shape = blocks.agg(count(lit(1)).as("n_blocks"),
          countDistinct(col(Blocks.KeyCol)).as("n_keys"),
          min(size(col(Blocks.RightCol))).as("kmin"),
          max(size(col(Blocks.RightCol))).as("kmax"))
        val lMissing = encIds(0)
          .join(blocks.select(col(Blocks.KeyCol).as("id")), Seq("id"), "left_anti")
          .agg(count(lit(1)).as("l_missing"))
        val rExtra = blocks.select(explode(col(Blocks.RightCol)).as("id")).distinct()
          .join(encIds(1), Seq("id"), "left_anti").agg(count(lit(1)).as("r_extra"))
        val tp = gold
          .join(blocks.select(col(Blocks.KeyCol).as("l"), col(Blocks.RightCol).as("rs")),
            Seq("l"))
          .filter(array_contains(col("rs"), col("r")))
          .agg(count(lit(1)).as("n_tp"))
        graft.core.CacheScope.seal(
        gold.agg(count(lit(1)).as("n_gold"))
          .crossJoin(encIds(0).agg(count(lit(1)).as("n_left")))
          .crossJoin(shape).crossJoin(lMissing).crossJoin(rExtra).crossJoin(tp)
          .select(col("n_gold"), col("n_left"),
            // every encodable left id gets exactly one block of 1..k rights
            (col("n_blocks") === col("n_left") && col("n_keys") === col("n_left") &&
              col("l_missing") === 0).as("coverage_ok"),
            (col("kmin") >= 1 && col("kmax") <= 3 && col("r_extra") === 0).as("k_ok"),
            // kNN@3 recall of the shingle near-dup gold — a true near-dup's
            // pooled token vector is nearly identical, so it lands in the
            // top-3 even at 8 dims; floor pinned from measured
            // 1.0/1.0/1.0 at sf0.001/0.01/0.1
            (col("n_gold") === 0 ||
              col("n_tp").cast("double") / col("n_gold") >= 0.95).as("recall_ok")),
          blocks, gold) // one-row invariant output; release the caches
      },
      Some(s"""$invariantCountsSql
              |       true AS coverage_ok, true AS k_ok,
              |       true AS recall_ok""".stripMargin),
      api = "EmbeddingKnnBlocker.assign",
      desc = "NN-blocks from embedding kNN (J4): per-left top-k neighbor blocks via the sign-LSH path.")
  )
}
