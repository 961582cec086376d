package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blockers._
import graft.core.{Blocks, EntityFrame}
import graft.relational.Relational
import graft.functions.Num
import QueryDef.{table, duckTokens}

/** Relation-aware operators + block algebra (SURVEY.md §2.2/§2.3/§2.4/
  * §2.5/§2.6), each oracle-checked.
  *
  * Graph framing over the testdata star schema: entities are orders
  * (`o<orderkey>`) and parts (`p<partkey>`); lineitem rows are relation
  * triples `(o<orderkey>, ln_<linenumber>, p<partkey>)`; attributes are
  * order status/priority and part names.
  */
object RelationalQueries {

  private def relFrame(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem").select(
      concat(lit("o"), col("l_orderkey")).as("head"),
      concat(lit("ln_"), col("l_linenumber")).as("rel"),
      concat(lit("p"), col("l_partkey")).as("tail"))

  private def attrTriples(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
    val p = table(s, dir, "part")
    o.select(concat(lit("o"), col("o_orderkey")).as("head"),
        lit("status").as("rel"), col("o_orderstatus").as("tail"))
      .unionByName(o.select(concat(lit("o"), col("o_orderkey")).as("head"),
        lit("priority").as("rel"), col("o_orderpriority").as("tail")))
      .unionByName(p.select(concat(lit("p"), col("p_partkey")).as("head"),
        lit("name").as("rel"), col("p_name").as("tail")))
  }

  private def attrFrame(s: SparkSession, dir: String): EntityFrame =
    EntityFrame(attrTriples(s, dir), "graph", "head", isTriple = true)

  private val relSql =
    """SELECT 'o'||l_orderkey AS head, 'ln_'||l_linenumber AS rel, 'p'||l_partkey AS tail
      |FROM lineitem""".stripMargin

  private val attrSql =
    """SELECT 'o'||o_orderkey AS head, 'status' AS rel, o_orderstatus AS tail FROM orders
      |UNION ALL SELECT 'o'||o_orderkey, 'priority', o_orderpriority FROM orders
      |UNION ALL SELECT 'p'||p_partkey, 'name', p_name FROM part""".stripMargin

  /** conc text per entity (own attributes): sorted distinct tails. */
  private val concSql =
    s"""SELECT head AS id, string_agg(DISTINCT trim(tail), ' ' ORDER BY trim(tail)) AS txt
       |FROM ($attrSql) WHERE tail IS NOT NULL GROUP BY head""".stripMargin

  /** Shared customer-supplier co-purchase graph for the graph-analytics
    * queries (rel_pagerank, rel_communities) — ONE definition on each
    * engine so the two queries can never drift onto different graphs. */
  private def coPurchaseArcs(s: SparkSession, dir: String): DataFrame = {
    val pairs = table(s, dir, "lineitem")
      .join(table(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("c"),
        concat(lit("s"), col("l_suppkey")).as("su"))
      .distinct()
    pairs.select(col("c").as("src"), col("su").as("dst"))
      .unionByName(pairs.select(col("su").as("src"), col("c").as("dst")))
  }

  private val coPurchaseArcsSql =
    """pairs AS (
      |  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS su
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |arcs AS (
      |  SELECT c AS src, su AS dst FROM pairs
      |  UNION ALL SELECT su, c FROM pairs)""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- U3: reverse relations -------------------------------------------
    "u3_reverse_rel" -> QueryDef(
      (s, dir) => Relational.reverseRel(relFrame(s, dir), "inv_")
        .orderBy("head", "rel", "tail"),
      Some(s"""SELECT tail AS head, 'inv_'||rel AS rel, head AS tail
              |FROM ($relSql) ORDER BY 1, 2, 3""".stripMargin),
      api = "Relational.reverseRel",
      desc = "Adds inverse relation triples (`_inv_` prefixed) — U3; one narrow projection + union, no shuffle."),

    // ---- A6: entity count -------------------------------------------------
    "a6_count_entities" -> QueryDef(
      (s, dir) => {
        val n = Relational.countEntities(attrFrame(s, dir), relFrame(s, dir))
        s.range(1).select(lit(n).as("n_entities"))
      },
      Some(s"""SELECT count(DISTINCT e) AS n_entities FROM (
              |  SELECT head AS e FROM ($attrSql)
              |  UNION ALL SELECT head FROM ($relSql)
              |  UNION ALL SELECT tail FROM ($relSql))""".stripMargin),
      api = "Relational.countEntities",
      desc = "Distinct entity count over heads∪tails (A6) — exact, plus an approx_count_distinct HLL variant."),

    // ---- A4: relation importance -----------------------------------------
    "a4_rel_importance" -> QueryDef(
      (s, dir) => {
        val rel = relFrame(s, dir)
        Relational.relationImportance(rel,
            Relational.countEntitiesFrame(attrFrame(s, dir), rel))
          .select(col("rel"), Num.stableRound(col("importance"), 6).as("importance"))
          .orderBy("rel")
      },
      Some(s"""WITH n AS (SELECT count(DISTINCT e) AS n FROM (
              |    SELECT head AS e FROM ($attrSql)
              |    UNION ALL SELECT head FROM ($relSql)
              |    UNION ALL SELECT tail FROM ($relSql))),
              |c AS (SELECT rel, count(*) AS rc, count(DISTINCT tail) AS tc
              |      FROM ($relSql) GROUP BY rel)
              |SELECT rel, floor((
              |  CASE WHEN (rc/(n.n*n.n) + tc/rc) = 0 THEN 0
              |       ELSE 2*(rc/(n.n*n.n))*(tc/rc)/((rc/(n.n*n.n)) + (tc/rc)) END) * 1e6 + 0.5) / 1e6
              |  AS importance
              |FROM c, n ORDER BY rel""".stripMargin),
      api = "Relational.relationImportance",
      desc = "Relation importance: per-relation entity coverage ratio (A4/F6 arithmetic).",
      auditAllow = Some("one-row entity-count total crossJoin(broadcast) (Relational.scala:98)")),

    // ---- A5: name (attribute property) importance ------------------------
    "a5_name_importance" -> QueryDef(
      (s, dir) => {
        val attr = attrFrame(s, dir)
        Relational.nameImportance(attr.df,
            Relational.countEntitiesFrame(attr, relFrame(s, dir)))
          .select(col("rel"), Num.stableRound(col("importance"), 6).as("importance"))
          .orderBy("rel")
      },
      Some(s"""WITH n AS (SELECT count(DISTINCT e) AS n FROM (
              |    SELECT head AS e FROM ($attrSql)
              |    UNION ALL SELECT head FROM ($relSql)
              |    UNION ALL SELECT tail FROM ($relSql))),
              |c AS (SELECT rel, count(head) AS hc, count(*) AS rc,
              |             count(DISTINCT tail) AS tc
              |      FROM ($attrSql) GROUP BY rel)
              |SELECT rel, floor((
              |  CASE WHEN (hc/n.n + tc/rc) = 0 THEN 0
              |       ELSE 2*(hc/n.n)*(tc/rc)/((hc/n.n) + (tc/rc)) END) * 1e6 + 0.5) / 1e6
              |  AS importance
              |FROM c, n ORDER BY rel""".stripMargin),
      api = "Relational.nameImportance",
      desc = "Name-property importance: coverage × distinctness per attribute name (A5).",
      auditAllow = Some("one-row entity-count total crossJoin(broadcast) (Relational.scala:120)")),

    // ---- P8/W1: top-n relations per entity by importance ------------------
    "p8_filter_importance" -> QueryDef(
      (s, dir) => {
        val rel = relFrame(s, dir)
        val imp = Relational.relationImportance(rel,
          Relational.countEntitiesFrame(attrFrame(s, dir), rel))
        Relational.filterImportance(rel, imp, 2)
          .orderBy("head", "rel", "tail")
      },
      Some(s"""WITH n AS (SELECT count(DISTINCT e) AS n FROM (
              |    SELECT head AS e FROM ($attrSql)
              |    UNION ALL SELECT head FROM ($relSql)
              |    UNION ALL SELECT tail FROM ($relSql))),
              |imp AS (SELECT rel, 2*(rc/(n.n*n.n))*(tc/rc)/((rc/(n.n*n.n)) + (tc/rc)) AS importance
              |        FROM (SELECT rel, count(*) AS rc, count(DISTINCT tail) AS tc
              |              FROM ($relSql) GROUP BY rel) c, n),
              |pairs AS (SELECT DISTINCT t.head, t.rel FROM ($relSql) t),
              |ranked AS (SELECT p.head, p.rel,
              |    row_number() OVER (PARTITION BY p.head
              |                       ORDER BY i.importance DESC, p.rel ASC) AS rn
              |  FROM pairs p LEFT JOIN imp i USING (rel)),
              |keep AS (SELECT head, rel FROM ranked WHERE rn <= 2)
              |SELECT t.head, t.rel, t.tail FROM ($relSql) t
              |SEMI JOIN keep k ON t.head = k.head AND t.rel = k.rel
              |ORDER BY 1, 2, 3""".stripMargin),
      api = "Relational.filterImportance",
      desc = "Keeps each entity's top-n most important relations — broadcast importance join + per-entity window (P8/J6/W1).",
      auditAllow = Some("consumes a4's importance pipeline (one-row total broadcast)")),

    // ---- W1 named API: top-n name properties per entity -------------------
    "w1_top_name_props" -> QueryDef(
      (s, dir) => Relational
        .topNNameProperties(attrFrame(s, dir), relFrame(s, dir), 1)
        .orderBy("head", "rel", "tail"),
      Some(s"""WITH n AS (SELECT count(DISTINCT e) AS n FROM (
              |    SELECT head AS e FROM ($attrSql)
              |    UNION ALL SELECT head FROM ($relSql)
              |    UNION ALL SELECT tail FROM ($relSql))),
              |imp AS (SELECT rel,
              |    CASE WHEN (hc/n.n + tc/rc) = 0 THEN 0
              |         ELSE 2*(hc/n.n)*(tc/rc)/((hc/n.n) + (tc/rc)) END AS importance
              |  FROM (SELECT rel, count(head) AS hc, count(*) AS rc,
              |               count(DISTINCT tail) AS tc
              |        FROM ($attrSql) GROUP BY rel) c, n),
              |pairs AS (SELECT DISTINCT head, rel FROM ($attrSql)),
              |ranked AS (SELECT p.head, p.rel,
              |    row_number() OVER (PARTITION BY p.head
              |                       ORDER BY i.importance DESC, p.rel ASC) AS rn
              |  FROM pairs p LEFT JOIN imp i USING (rel)),
              |keep AS (SELECT head, rel FROM ranked WHERE rn <= 1)
              |SELECT t.head, t.rel, t.tail FROM ($attrSql) t
              |SEMI JOIN keep k ON t.head = k.head AND t.rel = k.rel
              |ORDER BY 1, 2, 3""".stripMargin),
      api = "Window.partitionBy + row_number",
      desc = "Top-n name properties per entity by importance — the W1 window form with a deterministic tiebreak.",
      auditAllow = Some("consumes a5's importance pipeline (one-row total broadcast)")),

    // ---- J5: neighbor attribute concat ------------------------------------
    "j5_neighbor_concat" -> QueryDef(
      (s, dir) => Relational
        .concatNeighborAttributes(attrFrame(s, dir), relFrame(s, dir))
        .withColumnRenamed(EntityFrame.ConcCol, "txt")
        .orderBy("head"),
      Some(s"""WITH conc AS ($concSql),
              |rel AS ($relSql),
              |inv AS (SELECT head, tail FROM rel UNION ALL SELECT tail, head FROM rel),
              |allt AS (
              |  SELECT i.head AS id, c.txt FROM inv i JOIN conc c ON i.tail = c.id
              |  UNION ALL SELECT id, txt FROM conc)
              |SELECT id AS head, string_agg(DISTINCT txt, ' ' ORDER BY txt) AS txt
              |FROM allt GROUP BY id ORDER BY head""".stripMargin),
      api = "Relational.neighborConcat",
      desc = "Concatenates each entity's neighbors' attribute text through the relation graph (J5) — one join + one agg."),

    // ---- SimpleRelationalTokenBlocker end-to-end --------------------------
    // left graph = even orders (+ all parts), right = odd orders; hot
    // tokens capped at 10k comparisons on BOTH engines.
    "srt_relational_token_blocker" -> QueryDef(
      (s, dir) => {
        def side(parity: Int): (EntityFrame, DataFrame) = {
          val rel = relFrame(s, dir)
            .filter(substring(col("head"), 2, 100).cast("long") % 50 === parity)
          val attr = attrFrame(s, dir)
          (attr, rel)
        }
        val (la, lr) = side(0)
        val (ra, rr) = side(1)
        val blocker = SimpleRelationalBlocker(TokenBlocker(maxBlockComparisons = 200000L))
        // restrict each side's entities to its own graph (heads of rel ∪ tails)
        def restrict(attr: EntityFrame, rel: DataFrame): EntityFrame = {
          val ids = rel.select(col("head").as("e"))
            .unionByName(rel.select(col("tail").as("e"))).distinct()
          attr.copy(df = attr.df.join(ids.withColumnRenamed("e", "head"), Seq("head"), "left_semi"))
        }
        val b = blocker.assign(restrict(la, lr), restrict(ra, rr), Some(lr), Some(rr))
        b.df.select(
          col(Blocks.KeyCol),
          array_join(col(Blocks.LeftCol), ",").as("left_ids"),
          array_join(col(Blocks.RightCol), ",").as("right_ids"))
          .orderBy(Blocks.KeyCol)
      },
      Some {
        def sideSql(parity: Int) =
          s"""SELECT head, rel, tail FROM ($relSql) WHERE substring(head, 2)::bigint % 50 = $parity"""
        def concSide(relS: String) =
          s"""WITH rel AS ($relS),
             |ids AS (SELECT DISTINCT head AS id FROM rel UNION SELECT DISTINCT tail FROM rel),
             |conc0 AS ($concSql),
             |conc AS (SELECT c.* FROM conc0 c SEMI JOIN ids ON c.id = ids.id),
             |inv AS (SELECT head, tail FROM rel UNION ALL SELECT tail, head FROM rel),
             |allt AS (
             |  SELECT i.head AS id, c.txt FROM inv i JOIN conc c ON i.tail = c.id
             |  UNION ALL SELECT id, txt FROM conc)
             |SELECT id, string_agg(DISTINCT txt, ' ' ORDER BY txt) AS txt
             |FROM allt GROUP BY id""".stripMargin
        s"""WITH lconc AS (${concSide(sideSql(0))}),
           |rconc AS (${concSide(sideSql(1))}),
           |lt AS (SELECT DISTINCT * FROM (${duckTokens("id", "txt", "lconc")})),
           |rt AS (SELECT DISTINCT * FROM (${duckTokens("id", "txt", "rconc")})),
           |hot AS (
           |  SELECT key FROM (SELECT key, count(*) AS nl FROM lt GROUP BY key) l
           |  JOIN (SELECT key, count(*) AS nr FROM rt GROUP BY key) r USING (key)
           |  WHERE nl * nr > 200000),
           |lk AS (SELECT * FROM lt ANTI JOIN hot USING (key)),
           |rk AS (SELECT * FROM rt ANTI JOIN hot USING (key)),
           |lb AS (SELECT key, array_to_string(list_sort(list(id)), ',') AS left_ids FROM lk GROUP BY key),
           |rb AS (SELECT key, array_to_string(list_sort(list(id)), ',') AS right_ids FROM rk GROUP BY key)
           |SELECT key AS block_key, left_ids, right_ids
           |FROM lb JOIN rb USING (key) ORDER BY block_key""".stripMargin
      },
      api = "SimpleRelationalBlocker.assign",
      desc = "Composite relational token blocker: attribute token blocks ∪ neighbor-text token blocks (§2.9 wiring, oracled end-to-end)."),

    // ---- A7: block statistics --------------------------------------------
    "a7_block_stats" -> QueryDef(
      (s, dir) => {
        val l = table(s, dir, "customer")
          .select(col("c_custkey").as("id"), col("c_nationkey").cast("string").as("key"))
        val r = table(s, dir, "supplier")
          .select(col("s_suppkey").as("id"), col("s_nationkey").cast("string").as("key"))
        Blocker.blockJoin(l, r).statistics.orderBy(Blocks.KeyCol)
      },
      Some("""WITH lb AS (SELECT cast(c_nationkey AS varchar) AS block_key,
             |              count(DISTINCT c_custkey) AS ls FROM customer GROUP BY 1),
             |rb AS (SELECT cast(s_nationkey AS varchar) AS block_key,
             |              count(DISTINCT s_suppkey) AS rs FROM supplier GROUP BY 1)
             |SELECT block_key, ls::int AS left_size, rs::int AS right_size,
             |       (ls + rs)::int AS assignments, (ls * rs)::bigint AS comparisons
             |FROM lb JOIN rb USING (block_key) ORDER BY block_key""".stripMargin),
      api = "Blocks.statistics",
      desc = "Block statistics (A7): block count, min/max/mean sizes, comparison count from array sizes — no pair enumeration."),

    // ---- P10: block cap ---------------------------------------------------
    "p10_block_cap" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val lf = EntityFrame(docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text")), "docs_even", "doc_id")
        val rf = EntityFrame(docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text")), "docs_odd", "doc_id")
        TokenBlocker().assign(lf, rf).cap(20000)
          .df.select(col(Blocks.KeyCol),
            size(col(Blocks.LeftCol)).as("left_size"),
            size(col(Blocks.RightCol)).as("right_size"))
          .orderBy(Blocks.KeyCol)
      },
      Some(s"""WITH lt AS (SELECT DISTINCT * FROM (
              |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 2 = 0)")})),
              |rt AS (SELECT DISTINCT * FROM (
              |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 2 = 1)")})),
              |lb AS (SELECT key, count(*) AS ls FROM lt GROUP BY key),
              |rb AS (SELECT key, count(*) AS rs FROM rt GROUP BY key)
              |SELECT key AS block_key, ls::int AS left_size, rs::int AS right_size
              |FROM lb JOIN rb USING (key)
              |WHERE ls::bigint * rs <= 20000 ORDER BY block_key""".stripMargin),
      api = "Blocks.cap",
      desc = "Drops blocks whose |L|·|R| exceeds a comparison budget (P10) — the pre-enumeration safety valve."),

    // ---- J3: combine block tables -----------------------------------------
    // token blocks ∪ qgram blocks over the same doc split: overlapping
    // keys (3-letter words ≡ 3-grams) merge their id lists.
    "j3_combine_blocks" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val lf = EntityFrame(docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text")), "docs_even", "doc_id")
        val rf = EntityFrame(docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text")), "docs_odd", "doc_id")
        val tok = TokenBlocker().assign(lf, rf)
        val lang = StandardBlocker("lang").assign(
          EntityFrame(docs.filter(col("doc_id") % 2 === 0)
            .select(col("doc_id"), col("lang")), "docs_even", "doc_id"),
          EntityFrame(docs.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("lang")), "docs_odd", "doc_id"))
        tok.combine(lang)
          .df.select(col(Blocks.KeyCol),
            array_join(col(Blocks.LeftCol), ",").as("left_ids"),
            array_join(col(Blocks.RightCol), ",").as("right_ids"))
          .orderBy(Blocks.KeyCol)
      },
      Some(s"""WITH lt AS (SELECT DISTINCT * FROM (
              |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 2 = 0)")})),
              |rt AS (SELECT DISTINCT * FROM (
              |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 2 = 1)")})),
              |tok AS (
              |  SELECT key, list_sort(list(DISTINCT id)) AS l FROM lt GROUP BY key),
              |tokr AS (
              |  SELECT key, list_sort(list(DISTINCT id)) AS r FROM rt GROUP BY key),
              |tokb AS (SELECT key, l, r FROM tok JOIN tokr USING (key)),
              |langb AS (
              |  SELECT lang AS key,
              |    list_sort(list(DISTINCT cast(doc_id AS varchar)) FILTER (doc_id % 2 = 0)) AS l,
              |    list_sort(list(DISTINCT cast(doc_id AS varchar)) FILTER (doc_id % 2 = 1)) AS r
              |  FROM documents GROUP BY lang
              |  HAVING len(l) > 0 AND len(r) > 0),
              |comb AS (
              |  SELECT coalesce(a.key, b.key) AS block_key,
              |    list_sort(list_distinct(coalesce(a.l, []) || coalesce(b.l, []))) AS l,
              |    list_sort(list_distinct(coalesce(a.r, []) || coalesce(b.r, []))) AS r
              |  FROM tokb a FULL OUTER JOIN langb b ON a.key = b.key)
              |SELECT block_key, array_to_string(l, ',') AS left_ids,
              |       array_to_string(r, ',') AS right_ids
              |FROM comb ORDER BY block_key""".stripMargin),
      api = "Blocks.outerCombine",
      desc = "Outer combine of two blockings (J3): full-outer on key, id arrays unioned distinct."),

    // ---- W3/P10: full purge with CC-plateau threshold ---------------------
    "w3_purge" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val lf = EntityFrame(docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text")), "docs_even", "doc_id")
        val rf = EntityFrame(docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text")), "docs_odd", "doc_id")
        TokenBlocker().assign(lf, rf).purge()
          .df.select(col(Blocks.KeyCol)).orderBy(Blocks.KeyCol)
      },
      Some(s"""WITH lt AS (SELECT DISTINCT * FROM (
              |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 2 = 0)")})),
              |rt AS (SELECT DISTINCT * FROM (
              |${duckTokens("cast(doc_id AS varchar)", "text", "(SELECT * FROM documents WHERE doc_id % 2 = 1)")})),
              |lb AS (SELECT key, count(*) AS ls FROM lt GROUP BY key),
              |rb AS (SELECT key, count(*) AS rs FROM rt GROUP BY key),
              |st AS (SELECT key AS block_key, ls + rs AS assignments,
              |              ls::bigint * rs AS card
              |       FROM lb JOIN rb USING (key)),
              |dedup AS (SELECT * FROM (
              |  SELECT *, row_number() OVER (PARTITION BY card ORDER BY block_key) AS rn
              |  FROM st) WHERE rn = 1),
              |cum AS (SELECT card,
              |    sum(card) OVER w AS i_card,
              |    round(sum(assignments) OVER w / (sum(card) OVER w), 2) AS cc
              |  FROM dedup WINDOW w AS (ORDER BY card ROWS UNBOUNDED PRECEDING)),
              |dupd AS (SELECT * FROM (
              |    SELECT *, min(card) OVER (PARTITION BY cc) AS first_card FROM cum)
              |  WHERE card > first_card),
              |thr AS (SELECT coalesce(
              |    (SELECT min(i_card) FROM dupd),
              |    (SELECT max(i_card) FROM cum)) AS t)
              |SELECT block_key FROM st, thr WHERE card <= thr.t ORDER BY block_key""".stripMargin),
      api = "Blocks.purge",
      desc = "Purge-threshold from the block-size cumsum knee (W3) then filters oversized blocks — two tiny aggs, no pair work."),

    // ---- P5: deterministic hash-sample + semi-join -------------------------
    "p5_sample_semijoin" -> QueryDef(
      (s, dir) => {
        val gold = table(s, dir, "customer").select(
          col("c_custkey").as("gl"), (col("c_custkey") % 100).as("gr"))
        val sampled = gold.filter(
          graft.functions.Text.md5Long(concat(lit("s"), col("gl"))) % 20 === 0)
        table(s, dir, "customer")
          .join(sampled.select(col("gl").as("c_custkey")), Seq("c_custkey"), "left_semi")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      },
      Some("""WITH sampled AS (
             |  SELECT c_custkey FROM customer
             |  WHERE ('0x'||substr(md5('s'||c_custkey), 1, 15))::bigint % 20 = 0)
             |SELECT c_custkey, c_name FROM customer
             |SEMI JOIN sampled USING (c_custkey) ORDER BY c_custkey""".stripMargin),
      api = "DataFrame.sample + left_semi",
      desc = "Deterministic hash-sampling of entities with a semi-join restriction of their triples (P5)."),

    // ---- UniqueNameBlocker + P6 anti-filter --------------------------------
    // value = "name brand size" (1954/2000 unique at sf0.01); right side =
    // same parts with shifted ids, so unique values block 1:1.
    "un_unique_name_blocker" -> QueryDef(
      (s, dir) => {
        val p = table(s, dir, "part").select(col("p_partkey"),
          concat_ws(" ", col("p_name"), col("p_brand"), col("p_size")).as("v"))
        val lf = EntityFrame(p, "parts_l", "p_partkey")
        val rf = EntityFrame(p.select((col("p_partkey") + 10000000L).as("p_partkey"), col("v")),
          "parts_r", "p_partkey")
        UniqueNameBlocker().assign(lf, rf)
          .df.select(col(Blocks.KeyCol),
            array_join(col(Blocks.LeftCol), ",").as("left_ids"),
            array_join(col(Blocks.RightCol), ",").as("right_ids"))
          .orderBy(Blocks.KeyCol)
      },
      Some("""WITH uniq AS (
             |  SELECT p_name||' '||p_brand||' '||p_size AS v,
             |         min(cast(p_partkey AS varchar)) AS lid,
             |         min(cast(p_partkey + 10000000 AS varchar)) AS rid
             |  FROM part GROUP BY 1 HAVING count(DISTINCT p_partkey) = 1)
             |SELECT v AS block_key, lid AS left_ids, rid AS right_ids
             |FROM uniq ORDER BY block_key""".stripMargin),
      api = "UniqueNameBlocker.assign",
      desc = "Singleton blocks from attribute values held by exactly one entity per side (J2/P7) — the high-precision first pass."),

    "p6_anti_filter" -> QueryDef(
      (s, dir) => {
        val p = table(s, dir, "part").select(col("p_partkey"),
          concat_ws(" ", col("p_name"), col("p_brand"), col("p_size")).as("v"))
        val lf = EntityFrame(p, "parts_l", "p_partkey")
        val rf = EntityFrame(p.select((col("p_partkey") + 10000000L).as("p_partkey"), col("v")),
          "parts_r", "p_partkey")
        val unique = UniqueNameBlocker().assign(lf, rf)
        val covered = unique.df
          .select(explode(col(Blocks.LeftCol)).as("cid")).distinct()
        lf.df.join(covered, lf.df("p_partkey").cast("string") === col("cid"), "left_anti")
          .select("p_partkey", "v").orderBy("p_partkey")
      },
      Some("""WITH uniq AS (
             |  SELECT min(p_partkey) AS cid FROM part
             |  GROUP BY p_name||' '||p_brand||' '||p_size
             |  HAVING count(DISTINCT p_partkey) = 1)
             |SELECT p_partkey, p_name||' '||p_brand||' '||p_size AS v FROM part
             |ANTI JOIN uniq ON p_partkey = cid ORDER BY p_partkey""".stripMargin),
      api = "HybridBlockers",
      desc = "Anti-join filter removing entities already covered by unique-value blocks before the expensive pass (P6)."),

    // ---- fixed-iteration PageRank over the customer–supplier graph ------
    // undirected bipartite trade graph (customer c<k> — supplier s<k>
    // whenever a lineitem links them), both arc directions materialized
    // → no dangling nodes. 3 power iterations; ranks are scaled by N
    // (≈1.0 signal) and stable-rounded to 4 decimals so the two engines'
    // sum orders cannot flip a decimal (the m8/m9 iterative-aggregation
    // precision protocol).
    "rel_pagerank" -> QueryDef(
      (s, dir) => {
        val ranks = graft.relational.PageRank.pageRank(
          coPurchaseArcs(s, dir), 3)
        // node count from the (checkpointed, node-sized) rank table —
        // recomputing it from `arcs` would re-run the lineitem join
        val nDf = ranks.agg(count(lit(1)).as("n"))
        ranks
          .crossJoin(broadcast(nDf))
          .select(col("node"), Num.stableRound(col("r") * col("n"), 4).as("rank_x"))
          .orderBy("node")
      },
      Some(s"""WITH $coPurchaseArcsSql,
             |
             |deg AS (SELECT src, count(*) AS dg FROM arcs GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM deg),
             |r0 AS (SELECT src AS node, 1.0 / n.n AS r FROM deg, n),
             |m1 AS (SELECT a.dst AS node, sum(r.r / d.dg) AS m
             |       FROM arcs a JOIN r0 r ON a.src = r.node
             |                   JOIN deg d ON a.src = d.src GROUP BY 1),
             |r1 AS (SELECT node, 0.15 / n.n + 0.85 * m AS r FROM m1, n),
             |m2 AS (SELECT a.dst AS node, sum(r.r / d.dg) AS m
             |       FROM arcs a JOIN r1 r ON a.src = r.node
             |                   JOIN deg d ON a.src = d.src GROUP BY 1),
             |r2 AS (SELECT node, 0.15 / n.n + 0.85 * m AS r FROM m2, n),
             |m3 AS (SELECT a.dst AS node, sum(r.r / d.dg) AS m
             |       FROM arcs a JOIN r2 r ON a.src = r.node
             |                   JOIN deg d ON a.src = d.src GROUP BY 1),
             |r3 AS (SELECT node, 0.15 / n.n + 0.85 * m AS r FROM m3, n)
             |SELECT node, floor((r * n.n) * 1e4 + 0.5) / 1e4 AS rank_x
             |FROM r3, n ORDER BY node""".stripMargin),
      api = "PageRank.pageRank",
      desc = "PageRank over the entity graph: contribution table shuffled once (hash-partitioned by src, persisted); only node-sized ranks move per iteration; lineage checkpointed.",
      auditAllow = Some("one-row node-count broadcast into each power-iteration rescale (PageRank.pageRank)")),

    // ---- community detection: synchronous label propagation --------------
    // (Raghavan et al. 2007) over the same customer-supplier co-purchase
    // graph as rel_pagerank; 3 deterministic rounds (max-count label,
    // min-label tie-break) replayed verbatim by the oracle.
    "rel_communities" -> QueryDef(
      (s, dir) => {
        graft.relational.PageRank.labelPropagation(
          coPurchaseArcs(s, dir), 3)
          .orderBy("node")
      },
      Some(s"""WITH $coPurchaseArcsSql,
             |
             |l0 AS (SELECT DISTINCT src AS node, src AS label FROM arcs),
             |c1 AS (SELECT src, label, count(*) AS c FROM (
             |  SELECT a.src, l.label FROM arcs a JOIN l0 l ON l.node = a.dst
             |  UNION ALL SELECT node AS src, label FROM l0) GROUP BY 1, 2),
             |l1 AS (SELECT src AS node, label FROM (
             |  SELECT src, label, row_number() OVER (PARTITION BY src
             |      ORDER BY c DESC, label ASC) AS rn FROM c1) WHERE rn = 1),
             |c2 AS (SELECT src, label, count(*) AS c FROM (
             |  SELECT a.src, l.label FROM arcs a JOIN l1 l ON l.node = a.dst
             |  UNION ALL SELECT node AS src, label FROM l1) GROUP BY 1, 2),
             |l2 AS (SELECT src AS node, label FROM (
             |  SELECT src, label, row_number() OVER (PARTITION BY src
             |      ORDER BY c DESC, label ASC) AS rn FROM c2) WHERE rn = 1),
             |c3 AS (SELECT src, label, count(*) AS c FROM (
             |  SELECT a.src, l.label FROM arcs a JOIN l2 l ON l.node = a.dst
             |  UNION ALL SELECT node AS src, label FROM l2) GROUP BY 1, 2),
             |l3 AS (SELECT src AS node, label FROM (
             |  SELECT src, label, row_number() OVER (PARTITION BY src
             |      ORDER BY c DESC, label ASC) AS rn FROM c3) WHERE rn = 1)
             |SELECT node, label AS community FROM l3 ORDER BY node""".stripMargin),
      api = "PageRank.labelPropagation",
      desc = "Label-propagation communities with deterministic min-label ties — same one-shuffle-per-round arcs reuse as PageRank."),

    // ---- skew diagnostics: measure before you salt ------------------------
    // the operational pre-check for every hot-key lever in the library,
    // framed on the real hazard: document token frequencies (~30 shared
    // vocab tokens, each in most docs → skew_ratio far above 1).
    "diag_token_skew" -> QueryDef(
      (s, dir) => graft.relational.Diagnostics.keySkew(
        table(s, dir, "documents")
          .select(explode(graft.functions.Text.tokenize(col("text"))).as("key")),
        "key"),
      Some(s"""WITH t AS (${duckTokens("doc_id", "text", "documents")}),
              |c AS (SELECT key, count(*) AS c FROM t GROUP BY 1)
              |SELECT count(*) AS n_keys, sum(c)::bigint AS total_rows,
              |  max(c)::bigint AS max_key_rows,
              |  ${Num.stableRoundSql("max(c)::double / sum(c)", 6)} AS top1_share,
              |  ${Num.stableRoundSql("quantile_cont(c, 0.5)", 6)} AS p50,
              |  ${Num.stableRoundSql("quantile_cont(c, 0.9)", 6)} AS p90,
              |  ${Num.stableRoundSql("quantile_cont(c, 0.99)", 6)} AS p99,
              |  ${Num.stableRoundSql("quantile_cont(c, 0.99) / quantile_cont(c, 0.5)", 6)} AS skew_ratio
              |FROM c""".stripMargin),
      api = "Diagnostics.keySkew",
      desc = "One-row key-skew profile (n_keys, max share, count percentiles, p99/p50 ratio) — the measurement before choosing caps/salting; exact percentile here, percentile_approx at corpus scale."),

    // The percentile_approx form of diag_token_skew — the variant that
    // survives a key table too large for the exact single-reducer
    // percentile. Invariant-graded like ev_hll_users: the deterministic
    // columns (counts, max, top1 share) are hash-checked exactly; each
    // approx percentile is checked against the Greenwald–Khanna rank
    // contract itself (a returned value's rank interval must overlap
    // q·n ± n/accuracy, +1 for the member-vs-interpolation definition
    // gap), and the oracle asserts those flags are all true. Rank
    // counting, not value bounds — value bounds collapse when #keys is
    // small enough that one rank step exceeds the ±ε·n window.
    "diag_token_skew_approx" -> QueryDef(
      (s, dir) => {
        val toks = table(s, dir, "documents")
          .select(explode(graft.functions.Text.tokenize(col("text"))).as("key"))
        val approx = graft.relational.Diagnostics.keySkewApprox(toks, "key")
        val ranks = toks.groupBy(col("key")).agg(count(lit(1)).as("_c"))
          .crossJoin(broadcast(approx.select(col("p50"), col("p90"), col("p99"))))
          .agg(
            sum(when(col("_c") < col("p50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("_c") <= col("p50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("_c") < col("p90"), 1L).otherwise(0L)).as("lt90"),
            sum(when(col("_c") <= col("p90"), 1L).otherwise(0L)).as("le90"),
            sum(when(col("_c") < col("p99"), 1L).otherwise(0L)).as("lt99"),
            sum(when(col("_c") <= col("p99"), 1L).otherwise(0L)).as("le99"))
        def rankOk(q: Double, lt: String, le: String) = {
          val target = lit(q) * col("n_keys")
          val err = col("n_keys") / lit(10000.0) + lit(1.0)
          (col(lt) <= target + err) && (col(le) >= target - err)
        }
        approx.crossJoin(broadcast(ranks))
          .select(col("n_keys"), col("total_rows"), col("max_key_rows"),
            col("top1_share"),
            rankOk(0.5, "lt50", "le50").as("p50_ok"),
            rankOk(0.9, "lt90", "le90").as("p90_ok"),
            rankOk(0.99, "lt99", "le99").as("p99_ok"))
      },
      Some(s"""WITH t AS (${duckTokens("doc_id", "text", "documents")}),
              |c AS (SELECT key, count(*) AS c FROM t GROUP BY 1)
              |SELECT count(*) AS n_keys, sum(c)::bigint AS total_rows,
              |  max(c)::bigint AS max_key_rows,
              |  ${Num.stableRoundSql("max(c)::double / sum(c)", 6)} AS top1_share,
              |  true AS p50_ok, true AS p90_ok, true AS p99_ok
              |FROM c""".stripMargin),
      api = "Diagnostics.keySkewApprox",
      desc = "keySkew with percentile_approx percentiles — bounded-memory sketch merge instead of the exact single-reducer sort; the GK rank contract is checked in-plan (invariant-graded oracle).",
      auditAllow = Some("one-row approx profile crossed with one-row exact rank bounds")),

    "diag_heavy_hitters" -> QueryDef(
      (s, dir) => graft.relational.Diagnostics.heavyHitters(
        table(s, dir, "documents")
          .select(explode(graft.functions.Text.tokenize(col("text"))).as("key")),
        "key", topN = 10).orderBy("rank"),
      Some(s"""WITH t AS (${duckTokens("doc_id", "text", "documents")}),
              |c AS (SELECT key, count(*) AS key_rows FROM t GROUP BY 1),
              |tot AS (SELECT sum(key_rows)::double AS total FROM c),
              |r AS (SELECT row_number() OVER (ORDER BY key_rows DESC, key ASC) AS rank,
              |             key, key_rows,
              |             sum(key_rows) OVER (ORDER BY key_rows DESC, key ASC
              |               ROWS UNBOUNDED PRECEDING) AS cum
              |      FROM c)
              |SELECT rank::int AS rank, key, key_rows,
              |       ${Num.stableRoundSql("cum / total", 6)} AS cum_share
              |FROM r CROSS JOIN tot WHERE rank <= 10 ORDER BY rank""".stripMargin),
      api = "Diagnostics.heavyHitters",
      desc = "Top-N heaviest keys with cumulative share via TakeOrderedAndProject (no global sort) — the concrete list to cap or salt.")
  )
}
