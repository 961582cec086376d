package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.{MinHash, Num, SimHash, Text}
import graft.similarity.Similarity
import graft.text.{Curation, QualityClassifier, TextAnalysis}
import QueryDef.{table, duckTokens}

/** Dedup + text-analysis suite over the `documents` corpus — the
  * training-data-pipeline charter operators, each oracle-checked. */
object DedupQueries {

  /** (id, key) distinct filtered tokens of all documents.
    *
    * NOT persisted, deliberately: the multiple uses inside one dedup
    * query (signature, set sizes, verify join sides) share identical
    * `distinct` exchange subtrees, which Spark's ReuseExchange already
    * deduplicates; a `persist()` here was measured 2-3× SLOWER at sf0.1
    * (cache materialization + InMemoryRelation scans replace nearly-free
    * exchange reuse). At 100 TB the token table would be a written
    * parquet intermediate instead. */
  private def docTokens(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id").cast("string").as("id"),
        explode(Text.tokenize(col("text"))).as("key"))
      .distinct()

  private val docTokensSql: String =
    s"SELECT DISTINCT * FROM (${duckTokens("cast(doc_id AS varchar)", "text", "documents")})"

  /** (id, key) 3-token shingles (all tokens, no length/stopword filter —
    * standard shingling keeps function words). Not persisted — see
    * [[docTokens]]. */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    docShinglesRaw(s, dir).distinct()

  /** [[docShingles]] WITHOUT the (id, key) distinct — a full corpus
    * shuffle that the pure-MinHash pipeline does not need: signature
    * mins, band keys, and the collect_set verify are all
    * duplicate-insensitive, so `dd_minhash_neardup` /
    * `dd_incremental_neardup` produce bit-identical output from the raw
    * multiset while skipping the exchange. The n-gram-Jaccard family
    * (and anything that COUNTS shingle matches) must keep the distinct
    * form. */
  private def docShinglesRaw(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id").cast("string").as("id"),
        explode(Text.wordShingles(
          Text.tokenize(col("text"), minLength = 1, stopwords = Nil), 3)).as("key"))

  private val docShinglesSql: String =
    """SELECT DISTINCT id, l[i]||' '||l[i+1]||' '||l[i+2] AS key FROM (
      |  SELECT id, l, unnest(range(1, len(l) - 1)) AS i FROM (
      |    SELECT cast(doc_id AS varchar) AS id,
      |           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |                       t -> length(t) >= 1) AS l
      |    FROM documents))""".stripMargin

  /** DuckDB replay of [[Curation.verdicts]] on the documents table
    * (corpus = source<>'src0', benchmark = src0, allowed langs
    * en/de/fr, 4-gram decontamination): a WITH-chain ending in CTE `v`
    * with the verdict columns, shared by `cur_verdicts` (plain select)
    * and `cur_funnel` (per-source rollup). Each stage's SQL is the
    * SAME mirror its standalone query uses (tx_langid scores,
    * tx_quality_filter rules, dd_exact's canonical key row-locally,
    * dd_decontaminate's window grams). */
  private val curationVerdictsSql: String = {
    val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    val scoreExprs = TextAnalysis.Lexicons.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> list_contains($list, t))) AS s_$lang"
    }.mkString(",\n         ")
    val langs = TextAnalysis.Lexicons.map(_._1)
    val conds = langs.map(l => s"s_$l").mkString(", ")
    val best =
      s"""CASE WHEN greatest($conds) = 0 THEN 'und'
         |  ${langs.map(l => s"WHEN s_$l = greatest($conds) THEN '$l'").mkString("\n  ")}
         |END""".stripMargin
    s"""WITH ql AS (
       |  SELECT cast(doc_id AS varchar) AS id, text,
       |         regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS wtoks
       |  FROM documents WHERE source <> 'src0'),
       |sig AS (
       |  SELECT id, len(wtoks) AS m,
       |         list_sum(list_transform(wtoks, t -> length(t)))::double / len(wtoks) AS mean_len,
       |         len(list_filter(wtoks, t -> list_contains($stop, t))) AS stop_cnt,
       |         (len(wtoks) - len(list_distinct(wtoks)))::double / len(wtoks) AS dup_frac,
       |         $scoreExprs
       |  FROM ql),
       |tag AS (
       |  SELECT id, m::bigint AS n_tokens,
       |         CASE WHEN m < 20 OR m > 100000 THEN 'n_tokens'
       |              WHEN mean_len < 3.0 OR mean_len > 10.0 THEN 'mean_word_len'
       |              WHEN stop_cnt < 1 THEN 'stopwords'
       |              WHEN dup_frac > 0.6 THEN 'repetition' END AS quality_reason,
       |         $best AS lang
       |  FROM sig),
       |gate AS (SELECT id FROM tag
       |         WHERE quality_reason IS NULL AND lang IN ('en', 'de', 'fr')),
       |keys AS (
       |  SELECT g.id, md5(array_to_string(list_sort(list_distinct(
       |           list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'),
       |                       t -> length(t) >= 3 AND NOT list_contains($stop, t)))), ' ')) AS dup_key
       |  FROM documents d JOIN gate g ON cast(d.doc_id AS varchar) = g.id),
       |dup AS (
       |  SELECT id, CASE WHEN id <> min(id) OVER (PARTITION BY dup_key)
       |                  THEN min(id) OVER (PARTITION BY dup_key) END AS dup_of
       |  FROM keys),
       |ctoks AS (SELECT cast(doc_id AS varchar) AS id, source,
       |                 list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+'), x -> x != '') AS t
       |          FROM documents),
       |wins AS (SELECT id, source,
       |                unnest(list_transform(range(0, greatest(len(t) - 3, 0)),
       |                                      q -> array_to_string(t[q+1:q+4], ' '))) AS gram
       |         FROM ctoks),
       |hits AS (SELECT id, count(DISTINCT gram) AS n_hits FROM wins
       |         WHERE source <> 'src0'
       |           AND gram IN (SELECT gram FROM wins WHERE source = 'src0')
       |         GROUP BY id),
       |v AS (
       |  SELECT t.id, t.lang, t.n_tokens, t.quality_reason, d.dup_of,
       |         coalesce(h.n_hits, 0)::bigint AS n_hits,
       |         CASE WHEN t.lang NOT IN ('en', 'de', 'fr') THEN 'lang'
       |              WHEN t.quality_reason IS NOT NULL THEN 'quality'
       |              WHEN d.dup_of IS NOT NULL THEN 'duplicate'
       |              WHEN coalesce(h.n_hits, 0) > 0 THEN 'contaminated' END AS drop_stage,
       |         (CASE WHEN t.lang NOT IN ('en', 'de', 'fr') THEN 'lang'
       |               WHEN t.quality_reason IS NOT NULL THEN 'quality'
       |               WHEN d.dup_of IS NOT NULL THEN 'duplicate'
       |               WHEN coalesce(h.n_hits, 0) > 0 THEN 'contaminated' END) IS NULL AS keep
       |  FROM tag t LEFT JOIN dup d ON d.id = t.id
       |             LEFT JOIN hits h ON h.id = t.id)""".stripMargin
  }

  /** DuckDB replay of [[TextAnalysis.bpeMerges]]: `rounds` chained CTE
    * blocks, each = pair expansion → weighted count → deterministic
    * argmax → delimiter-string merge (replace is left-to-right
    * non-overlapping in both engines — the BPE greedy-apply rule).
    *
    * Returns (cteChain, finalSelect) as SEPARATE parts so
    * [[bpeEncodeSql]] can reuse the chain with its own rollup instead of
    * substring-slicing the assembled SQL (which silently breaks if the
    * final select is ever reworded). */
  private def bpeMergesParts(rounds: Int): (String, String) = {
    val v0 =
      """words AS (
        |  SELECT t AS w, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                              x -> length(x) >= 1)) AS t
        |    FROM documents) GROUP BY 1),
        |v0 AS (
        |  SELECT w, '·' || array_to_string(
        |           list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)), '··')
        |         || '·' AS sym, cnt
        |  FROM words)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s"""e$k AS (SELECT cnt, l, unnest(range(1, len(l))) AS i FROM (
         |  SELECT cnt, list_filter(string_split(sym, '·'), x -> x != '') AS l
         |  FROM v${k - 1})),
         |p$k AS (SELECT l[i] || '·' || l[i+1] AS pair, sum(cnt) AS pcnt
         |        FROM e$k GROUP BY 1),
         |t$k AS (SELECT pair, pcnt FROM (
         |  SELECT pair, pcnt FROM p$k
         |  UNION ALL SELECT chr(1) || '·' || chr(1), 0)
         |  ORDER BY pcnt DESC, pair ASC LIMIT 1),
         |v$k AS (SELECT w, replace(sym, '·' || replace(t.pair, '·', '··') || '·',
         |                       '·' || replace(t.pair, '·', '') || '·') AS sym, cnt
         |        FROM v${k - 1}, t$k t)""".stripMargin
    }.mkString(",\n")
    // pcnt > 0 excludes the no-op sentinel a pairless round falls back to
    // (mirrors the Spark side: merges records real tops only)
    val finalSel = (1 to rounds)
      .map(k => s"SELECT $k AS round, pair, pcnt::bigint AS cnt FROM t$k WHERE pcnt > 0")
      .mkString("\nUNION ALL ")
    (s"WITH $v0,\n$roundCtes", s"$finalSel\nORDER BY round")
  }

  private def bpeMergesSql(rounds: Int): String = {
    val (ctes, finalSel) = bpeMergesParts(rounds)
    s"$ctes\n$finalSel"
  }

  /** DuckDB replay of [[TextAnalysis.winnowFingerprints]] reduced to the
    * joinable per-doc-distinct (doc_id, h) table `fp` — shared by the
    * uncapped and hot-hash-capped winnow pair queries so the fingerprint
    * definition cannot drift between them. */
  private lazy val winnowFpSql: String =
    s"""WITH norm AS (
       |  SELECT doc_id,
       |         substr(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]', '', 'g'),
       |                1, ${TextAnalysis.WinnowPosMask + 8}) AS t
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         ('0x'||substr(md5(substr(t, i, 8)), 1, 10))::bigint AS h
       |  FROM (SELECT doc_id, t,
       |          unnest(range(1, length(t) - 6)) AS i FROM norm)),
       |keyed AS (
       |  SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS key FROM grams),
       |sel AS (
       |  SELECT doc_id, pos,
       |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
       |  FROM keyed),
       |fp AS (
       |  SELECT DISTINCT doc_id, sel // 1048576 AS h
       |  FROM sel WHERE pos >= 3)""".stripMargin

  /** DuckDB replay of [[TextAnalysis.bpeEncode]]: the same chained merge
    * rounds (word carried through), then doc tokens joined to the final
    * vocabulary's segmentation length. */
  private def bpeEncodeSql(rounds: Int): String = {
    // reuse the learn SQL's CTE chain, swap in the encode rollup
    val (ctes, _) = bpeMergesParts(rounds)
    // NB: ctes is already margin-stripped — do NOT re-stripMargin it;
    // its `|| '·'` concatenation lines would lose their first pipe
    val tail =
      s"""subs AS (SELECT w, len(list_filter(string_split(sym, '·'), x -> x != '')) AS n_sub
         |         FROM v$rounds),
         |dt AS (SELECT cast(doc_id AS varchar) AS id,
         |              unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
         |                                 x -> length(x) >= 1)) AS w
         |       FROM documents)
         |SELECT id, count(*) AS n_words, sum(n_sub)::bigint AS n_subwords
         |FROM dt JOIN subs USING (w)
         |GROUP BY id ORDER BY id""".stripMargin
    s"$ctes,\n$tail"
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- exact dedup on canonical token-set key ---------------------------
    "dd_exact" -> QueryDef(
      (s, dir) => Dedup.exactDuplicates(docTokens(s, dir))
        .select(col("dup_key"), array_join(col("ids"), ",").as("ids"), col("n"))
        .orderBy("dup_key"),
      Some(s"""WITH canon AS (
              |  SELECT id, md5(array_to_string(list_sort(list(DISTINCT key)), ' ')) AS dup_key
              |  FROM ($docTokensSql) GROUP BY id)
              |SELECT dup_key, array_to_string(list_sort(list(DISTINCT id)), ',') AS ids,
              |       count(DISTINCT id) AS n
              |FROM canon GROUP BY dup_key HAVING count(DISTINCT id) >= 2
              |ORDER BY dup_key""".stripMargin),
      api = "Dedup.exactDuplicates",
      desc = "Exact duplicate groups by content hash — one hash-groupBy, the cheapest dedup pass."),

    // ---- bloom-prefiltered exact refresh dedup ---------------------------
    // bloom behavior is unobservable in the output (the verify join makes
    // it exact), so a plain-SQL membership join is a complete oracle; the
    // spec asserts the pruning itself (definite negatives skip the join,
    // false positives die in verification).
    "dd_bloom_refresh" -> QueryDef(
      (s, dir) => {
        val toks = docTokens(s, dir)
        Dedup.bloomRefreshDedup(
          toks.filter(col("id").cast("long") % 4 =!= 0),
          toks.filter(col("id").cast("long") % 4 === 0))
          .orderBy("id")
      },
      Some(s"""WITH t AS ($docTokensSql),
              |ck AS (SELECT md5(array_to_string(list_sort(list(DISTINCT key)), ' ')) AS dup_key
              |       FROM t WHERE cast(id AS bigint) % 4 <> 0 GROUP BY id),
              |nk AS (SELECT id, md5(array_to_string(list_sort(list(DISTINCT key)), ' ')) AS dup_key
              |       FROM t WHERE cast(id AS bigint) % 4 = 0 GROUP BY id)
              |SELECT n.id, n.dup_key, c.dup_key IS NOT NULL AS in_corpus
              |FROM nk n LEFT JOIN (SELECT DISTINCT dup_key FROM ck) c USING (dup_key)
              |ORDER BY n.id""".stripMargin),
      api = "Dedup.bloomRefreshDedup",
      desc = "Incremental exact dedup with a Bloom prefilter (codegen'd BloomMightContain plan literal): only maybe-dup rows pay the corpus join."),

    // ---- streaming exact dedup (batch form of the stateful operator) -----
    // single-batch run of streamExactDedup ≡ keep the (seq, id)-minimal
    // record per content key; multi-batch first-arrival-wins semantics is
    // spec-tested in StreamingSpec.
    "st_stream_dedup" -> QueryDef(
      (s, dir) => {
        implicit val sp: SparkSession = s
        import s.implicits._
        val canon = docTokens(s, dir).groupBy("id")
          .agg(md5(concat_ws(" ", array_sort(collect_set(col("key"))))).as("key"))
          .select(col("key"), col("id"), col("id").cast("long").as("seq"))
          .as[graft.streaming.StreamingOps.DedupRecord]
        graft.streaming.StreamingOps.streamExactDedup(canon)
          .toDF().select(col("key").as("dup_key"), col("id").as("keep_id"))
          .orderBy("dup_key")
      },
      Some(s"""WITH canon AS (
              |  SELECT id, md5(array_to_string(list_sort(list(DISTINCT key)), ' ')) AS dup_key
              |  FROM ($docTokensSql) GROUP BY id)
              |SELECT dup_key, min(id::bigint)::varchar AS keep_id
              |FROM canon GROUP BY dup_key ORDER BY dup_key""".stripMargin),
      api = "StreamingOps.streamExactDedup",
      desc = "Streaming exact dedup with TTL state (flatMapGroupsWithState) — state rows = distinct hashes, expired by watermark."),

    // ---- streaming NEAR-dup (batch form of the stateful operator) --------
    // single-batch run of streamMinHashNearDup ≡ band-bucket self-join +
    // signature-estimate filter, distinct'd across shared buckets (same
    // shingle space and hash family as dd_minhash_neardup; est = n/16 is
    // an exact binary fraction, so doubles hash identically). Multi-batch
    // incrementality and the hot-bucket cap are spec-tested.
    "st_stream_neardup" -> QueryDef(
      (s, dir) => {
        implicit val sp: SparkSession = s
        import s.implicits._
        // repartition BEFORE signing: the corpus is one parquet file →
        // one input partition, and all per-shingle md5 + mixing work happens
        // pre-shuffle — without this the signing stage runs on a single
        // core (measured 36 s vs ~2 s at sf0.1). At real scale the scan
        // has many splits and the exchange is a cheap skinny shuffle.
        val docs = table(s, dir, "documents")
          .select(col("doc_id").cast("string").as("id"),
            Text.wordShingles(
              Text.tokenize(col("text"), minLength = 1, stopwords = Nil), 3)
              .as("tokens"))
          .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
          .as[graft.streaming.StreamingOps.DocRecord]
        graft.streaming.StreamingOps
          .streamMinHashNearDup(docs, numPerm = 16, bands = 4, minEst = 0.375)
          .toDF().select(col("idA").as("id_a"), col("idB").as("id_b"), col("est"))
          .distinct().orderBy("id_a", "id_b")
      },
      Some {
        val sig = MinHash.signatureSql(docShinglesSql, 16)
        val buckets = MinHash.bandBucketsSql("SELECT * FROM sig", 4, 4)
        val estTerms = (0 until 16)
          .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH sig AS ($sig),
           |buckets AS ($buckets),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM buckets a JOIN buckets b ON a.key = b.key AND a.id < b.id),
           |est AS (
           |  SELECT c.id_a, c.id_b, ($estTerms)::double / 16 AS est
           |  FROM cand c JOIN sig sa ON sa.id = c.id_a
           |              JOIN sig sb ON sb.id = c.id_b)
           |SELECT id_a, id_b, est FROM est WHERE est >= 0.375
           |ORDER BY id_a, id_b""".stripMargin
      },
      api = "StreamingOps.streamNearDup",
      desc = "Streaming near-dup: band-bucket state holds SIGNATURES only, per-bucket admission cap — state measured flat under ×10 re-delivery."),

    // ---- §2.10: TTL near-dup — multi-wave horizon-rule replay -------------
    // The one divergent behavior of streamMinHashNearDupWithTtl vs its
    // oracled unbounded twin is MULTI-batch: watermark-driven per-entry
    // eviction, refresh-extends-life, and evicted-id re-admission
    // (duplicate pairs across horizons). Three deterministic waves pin
    // all three (ttl 1 h, watermark 0 s → wm = max prior event time):
    //   wave 1 (T):        every doc admits → the full single-batch
    //                      pair set;
    //   wave 2 (T+2 h):    EVEN docs re-sight → refresh only, zero
    //                      emissions (floor = T−1 h, everything live);
    //   wave 3 (T+3.5 h):  floor = T+1 h → odd entries (seen=T) evict,
    //                      evens (seen=T+2 h) survive BECAUSE wave 2
    //                      refreshed them; every doc arrives again, so
    //                      odds RE-ADMIT and re-emit against surviving
    //                      evens and each other; even-even pairs stay
    //                      silent (both live).
    // Result = per-(pair, est) emission count: shared-bucket multiplicity
    // ×1 for even-even pairs, ×2 for any pair touching an odd doc. The
    // oracle replays the horizon rule wave by wave in SQL — per-wave
    // eviction floors as max-prior-time aggregates, refresh via
    // greatest(), re-admission as the live-set anti-join — never the
    // closed form. Fixture: ≤1000 docs collected to the driver (bounded
    // constant; MemoryStream data is driver-side by nature).
    "st_ttl_neardup_replay" -> QueryDef(
      (s, dir) => {
        implicit val sp: SparkSession = s
        import s.implicits._
        val base = 1700000000000L // event-time ms; tz-free
        val hour = 3600000L
        val rows = table(s, dir, "documents").filter(col("doc_id") < 1000)
          .select(col("doc_id").cast("string").as("id"),
            (col("doc_id") % 2 === 0).as("even"),
            Text.wordShingles(
              Text.tokenize(col("text"), minLength = 1, stopwords = Nil), 3)
              .as("tokens"))
          .collect() // bounded: ≤1000 docs, ~50 shingles each
        def wave(ms: Long, f: org.apache.spark.sql.Row => Boolean) =
          rows.toSeq.filter(f).map(r =>
            graft.streaming.StreamingOps.TimedDocRecord(
              r.getString(0), r.getSeq[String](2),
              new java.sql.Timestamp(ms)))
        val sink = graft.streaming.StreamingOps.replayWaves(
          Seq(wave(base, _ => true),
            wave(base + 2 * hour, _.getBoolean(1)),
            wave(base + 7 * hour / 2, _ => true)),
          "st_ttl_nd_replay") { ds =>
          graft.streaming.StreamingOps.streamMinHashNearDupWithTtl(
            ds, numPerm = 16, bands = 4, minEst = 0.375,
            maxIdsPerBucket = 10000, ttl = "1 hour", watermark = "0 seconds")
        }
        // seal: the sink is a localCheckpoint replayWaves hands back —
        // release its blocks once the (tiny) emission-count output is
        // materialized, per the CacheScope checkpoint-release contract
        graft.core.CacheScope.seal(
          sink.groupBy(col("idA").as("id_a"), col("idB").as("id_b"), col("est"))
            .agg(count(lit(1)).as("emits"))
            .orderBy("id_a", "id_b"),
          sink)
      },
      Some {
        val sh =
          """SELECT DISTINCT id, l[i]||' '||l[i+1]||' '||l[i+2] AS key FROM (
            |  SELECT id, l, unnest(range(1, len(l) - 1)) AS i FROM (
            |    SELECT cast(doc_id AS varchar) AS id,
            |           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
            |                       t -> length(t) >= 1) AS l
            |    FROM documents WHERE doc_id < 1000))""".stripMargin
        val sig = MinHash.signatureSql(sh, 16)
        val buckets = MinHash.bandBucketsSql("SELECT * FROM sig", 4, 4)
        val estTerms = (0 until 16)
          .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        val (t1, t2, t3) = (1700000000000L, 1700007200000L, 1700012600000L)
        // per-wave state replay: floor_w = max prior event time − ttl
        // (watermark delay 0), survivors by seen ≥ floor, refresh via
        // greatest, admissions as anti-joins; a wave's emissions are the
        // shared-bucket pairs with ≥1 newly-admitted member (live-live
        // pairs are silent re-sightings)
        s"""WITH sig AS MATERIALIZED ($sig),
           |buckets AS MATERIALIZED ($buckets),
           |sight AS MATERIALIZED (
           |  SELECT b.key, b.id, w.w, w.tms
           |  FROM buckets b, (VALUES (1, $t1), (2, $t2), (3, $t3)) AS w(w, tms)
           |  WHERE w.w <> 2 OR CAST(b.id AS INTEGER) % 2 = 0),
           |s1 AS (SELECT key, id, tms AS seen FROM sight WHERE w = 1),
           |f2 AS (SELECT max(tms) - 3600000 AS f FROM sight WHERE w < 2),
           |live2 AS (SELECT s1.key, s1.id, s1.seen FROM s1, f2 WHERE s1.seen >= f2.f),
           |a2 AS (SELECT key, id, tms FROM sight WHERE w = 2),
           |new2 AS (SELECT a2.key, a2.id, a2.tms FROM a2 WHERE NOT EXISTS (
           |  SELECT 1 FROM live2 l WHERE l.key = a2.key AND l.id = a2.id)),
           |s2 AS MATERIALIZED (
           |  SELECT l.key, l.id, greatest(l.seen, coalesce(a.tms, l.seen)) AS seen
           |  FROM live2 l LEFT JOIN a2 a ON a.key = l.key AND a.id = l.id
           |  UNION ALL SELECT key, id, tms FROM new2),
           |f3 AS (SELECT max(tms) - 3600000 AS f FROM sight WHERE w < 3),
           |live3 AS (SELECT s2.key, s2.id FROM s2, f3 WHERE s2.seen >= f3.f),
           |a3 AS (SELECT key, id FROM sight WHERE w = 3),
           |new3 AS (SELECT a3.key, a3.id FROM a3 WHERE NOT EXISTS (
           |  SELECT 1 FROM live3 l WHERE l.key = a3.key AND l.id = a3.id)),
           |m1 AS (SELECT key, id, 1 AS is_new FROM s1),
           |m2 AS (SELECT key, id, 0 AS is_new FROM live2
           |       UNION ALL SELECT key, id, 1 FROM new2),
           |m3 AS (SELECT key, id, 0 AS is_new FROM live3
           |       UNION ALL SELECT key, id, 1 FROM new3),
           |em AS MATERIALIZED (
           |  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
           |  FROM m1 a JOIN m1 b ON a.key = b.key AND a.id < b.id
           |  WHERE a.is_new + b.is_new >= 1
           |  UNION ALL
           |  SELECT least(a.id, b.id), greatest(a.id, b.id)
           |  FROM m2 a JOIN m2 b ON a.key = b.key AND a.id < b.id
           |  WHERE a.is_new + b.is_new >= 1
           |  UNION ALL
           |  SELECT least(a.id, b.id), greatest(a.id, b.id)
           |  FROM m3 a JOIN m3 b ON a.key = b.key AND a.id < b.id
           |  WHERE a.is_new + b.is_new >= 1),
           |cand AS (SELECT DISTINCT id_a, id_b FROM em),
           |estp AS (
           |  SELECT c.id_a, c.id_b, ($estTerms)::double / 16 AS est
           |  FROM cand c JOIN sig sa ON sa.id = c.id_a
           |              JOIN sig sb ON sb.id = c.id_b)
           |SELECT e.id_a, e.id_b, p.est, count(*) AS emits
           |FROM em e JOIN estp p ON p.id_a = e.id_a AND p.id_b = e.id_b
           |WHERE p.est >= 0.375
           |GROUP BY 1, 2, 3
           |ORDER BY 1, 2""".stripMargin
      },
      api = "StreamingOps.streamMinHashNearDupWithTtl",
      desc = "Multi-wave TTL replay: three deterministic MemoryStream waves pin watermark-driven eviction, refresh-extends-life and re-admission; the oracle replays the horizon rule wave by wave in SQL."),

    // ---- MinHash-LSH near-dup (3-token shingles, jaccard ≥ 0.2) ----------
    // Shingles, not tokens: a tiny shared vocabulary makes token-set
    // MinHash collide on nearly every pair (the corpus's avg token-set
    // jaccard is 0.63); the shingle space is large → candidates are only
    // genuine near-dups. This is the standard corpus-dedup formulation.
    // estPrefilter = 0.375 = 6/16: above the band floor 1/bands = 0.25,
    // below E[est | band hit] at the threshold = (4 + 12·0.2)/16 = 0.4
    // (see Dedup.minHashNearDupPairs scaladoc). Measured on this corpus
    // (sf0.01 and sf0.1): min estimate among true pairs is 0.875 / 0.6875
    // and the band candidates contain zero false positives, so the
    // prefilter provably drops nothing here (DedupSpec equality test) —
    // it guards the verify join on dirtier corpora where single-lucky-band
    // collisions dominate. The oracle SQL carries no prefilter: equality
    // IS the oracle check.
    "dd_minhash_neardup" -> QueryDef(
      (s, dir) => Dedup.minHashNearDupPairs(docShinglesRaw(s, dir),
          numPerm = 16, bands = 4, threshold = 0.2, estPrefilter = 0.375)
        .select(col("id_a"), col("id_b"), Num.stableRound(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some {
        val sig = MinHash.signatureSql(docShinglesSql, 16)
        val buckets = MinHash.bandBucketsSql("SELECT * FROM sig", 4, 4)
        s"""WITH sig AS ($sig),
           |buckets AS ($buckets),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM buckets a JOIN buckets b ON a.key = b.key AND a.id < b.id),
           |toks AS ($docShinglesSql),
           |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM toks GROUP BY id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS i
           |  FROM cand c JOIN toks ta ON ta.id = c.id_a
           |              JOIN toks tb ON tb.id = c.id_b AND tb.key = ta.key
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |       floor((i / (sa.sz + sb.sz - i)) * 1e6 + 0.5) / 1e6 AS jaccard
           |FROM inter JOIN sizes sa ON sa.id = id_a
           |           JOIN sizes sb ON sb.id = id_b
           |WHERE i / (sa.sz + sb.sz - i) >= 0.2
           |ORDER BY id_a, id_b""".stripMargin
      },
      api = "Dedup.minHashNearDupPairs",
      desc = "MinHash-LSH near-dup pairs: shingles → signatures → banded buckets → bucket join + exact Jaccard verify; hot-bucket cap bounds skew."),

    // ---- directed containment pairs (Broder's containment vs resemblance) -
    "dd_containment" -> QueryDef(
      (s, dir) => Dedup.minHashContainmentPairs(docShinglesRaw(s, dir),
          numPerm = 16, bands = 4, threshold = 0.5)
        .select(col("id_from"), col("id_to"),
          Num.stableRound(col("containment"), 6).as("containment"))
        .orderBy("id_from", "id_to"),
      Some {
        val sig = MinHash.signatureSql(docShinglesSql, 16)
        val buckets = MinHash.bandBucketsSql("SELECT * FROM sig", 4, 4)
        s"""WITH sig AS ($sig),
           |buckets AS ($buckets),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM buckets a JOIN buckets b ON a.key = b.key AND a.id < b.id),
           |toks AS ($docShinglesSql),
           |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM toks GROUP BY id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS i
           |  FROM cand c JOIN toks ta ON ta.id = c.id_a
           |              JOIN toks tb ON tb.id = c.id_b AND tb.key = ta.key
           |  GROUP BY 1, 2),
           |dirs AS (
           |  SELECT id_a AS id_from, id_b AS id_to, i / sa.sz AS c
           |  FROM inter JOIN sizes sa ON sa.id = id_a
           |  UNION ALL
           |  SELECT id_b, id_a, i / sb.sz
           |  FROM inter JOIN sizes sb ON sb.id = id_b)
           |SELECT id_from, id_to,
           |       floor(c * 1e6 + 0.5) / 1e6 AS containment
           |FROM dirs WHERE c >= 0.5 ORDER BY id_from, id_to""".stripMargin
      },
      api = "Dedup.minHashContainmentPairs",
      desc = "Containment (subset) detection via MinHash: asymmetric overlap estimate flags docs swallowed by bigger docs."),

    // ---- empirical LSH recall gate (measure before the corpus dedup) -----
    // ground truth = exact-Jaccard pairs on a deterministic md5-mod
    // sample (inverted-index join, never cartesian); candidates = the
    // production signature/band path on the same sample; plus the MMDS
    // S-curve expectation over the true pairs. Same (numPerm, bands,
    // threshold) as dd_minhash_neardup, so this row IS that operator's
    // measured recall contract.
    "dd_lsh_recall" -> QueryDef(
      (s, dir) => Dedup.lshRecall(docShinglesRaw(s, dir),
        numPerm = 16, bands = 4, threshold = 0.2, sampleMod = 2),
      Some {
        val sig = MinHash.signatureSql("SELECT * FROM samp", 16)
        val buckets = MinHash.bandBucketsSql("SELECT * FROM sig", 4, 4)
        s"""WITH samp AS (
           |  SELECT * FROM ($docShinglesSql)
           |  WHERE ('0x'||substr(md5(id), 1, 15))::bigint % 2 = 0),
           |sig AS ($sig),
           |buckets AS ($buckets),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM buckets a JOIN buckets b ON a.key = b.key AND a.id < b.id),
           |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM samp GROUP BY id),
           |inter AS (
           |  SELECT ta.id AS id_a, tb.id AS id_b, count(*) AS i
           |  FROM samp ta JOIN samp tb ON tb.key = ta.key AND ta.id < tb.id
           |  GROUP BY 1, 2),
           |truth AS (
           |  SELECT id_a, id_b, i / (sa.sz + sb.sz - i) AS j
           |  FROM inter JOIN sizes sa ON sa.id = id_a
           |             JOIN sizes sb ON sb.id = id_b
           |  WHERE i / (sa.sz + sb.sz - i) >= 0.2),
           |pairs AS (
           |  SELECT t.j, t.id_a IS NOT NULL AS is_true,
           |         c.id_a IS NOT NULL AS is_cand
           |  FROM truth t FULL OUTER JOIN cand c
           |    ON t.id_a = c.id_a AND t.id_b = c.id_b),
           |agg AS (
           |  SELECT count(CASE WHEN is_true THEN 1 END) AS n_true_pairs,
           |         count(CASE WHEN is_cand THEN 1 END) AS n_candidates,
           |         count(CASE WHEN is_true AND is_cand THEN 1 END) AS n_caught,
           |         avg(CASE WHEN is_true
           |             THEN 1.0 - pow(1.0 - pow(j, 4.0), 4.0) END) AS e
           |  FROM pairs),
           |docs AS (SELECT count(DISTINCT id) AS n_docs FROM samp)
           |SELECT n_docs, n_true_pairs, n_candidates, n_caught,
           |  floor((CASE WHEN n_true_pairs = 0 THEN 1.0
           |         ELSE n_caught::double / n_true_pairs END) * 1e6 + 0.5) / 1e6
           |    AS recall,
           |  floor(coalesce(e, 1.0) * 1e6 + 0.5) / 1e6 AS expected_recall,
           |  floor((CASE WHEN n_candidates = 0 THEN 0.0
           |         ELSE (n_candidates - n_caught)::double / n_candidates END)
           |        * 1e6 + 0.5) / 1e6 AS false_candidate_rate
           |FROM docs, agg""".stripMargin
      },
      api = "Dedup.lshRecall",
      desc = "Empirical LSH recall gate: exact-Jaccard truth on a deterministic doc sample vs the production banding, plus the MMDS S-curve expectation."),

    // ---- incremental near-dup: new batch (doc_id % 4 = 0) vs corpus -------
    // corpus×corpus candidates never form; id_b is always from the new
    // ---- incremental near-dup, stored-signature (production) form --------
    // the corpus enters as its precomputed signature table + a raw token
    // scan used only to verify candidates — the refresh loop's real
    // shape (nothing corpus-sized cached). Output provably equals the
    // raw-token form (DedupSpec equality), so the oracle is shared.
    "dd_incremental_sig" -> QueryDef(
      (s, dir) => {
        val sh = docShinglesRaw(s, dir)
        val corpus = sh.filter(col("id").cast("long") % 4 =!= 0)
        Dedup.minHashNearDupAgainstSig(
            MinHash.signature(corpus, 16), corpus,
            sh.filter(col("id").cast("long") % 4 === 0),
            numPerm = 16, bands = 4, threshold = 0.2)
          .select(col("id_a"), col("id_b"), Num.stableRound(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some {
        val sig = MinHash.signatureSql(docShinglesSql, 16)
        val buckets = MinHash.bandBucketsSql("SELECT * FROM sig", 4, 4)
        s"""WITH sig AS ($sig),
           |buckets AS ($buckets),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM buckets a JOIN buckets b ON a.key = b.key
           |  WHERE cast(b.id AS bigint) % 4 = 0
           |    AND ((cast(a.id AS bigint) % 4 <> 0 AND a.id <> b.id)
           |      OR (cast(a.id AS bigint) % 4 = 0 AND a.id < b.id))),
           |toks AS ($docShinglesSql),
           |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM toks GROUP BY id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS i
           |  FROM cand c JOIN toks ta ON ta.id = c.id_a
           |              JOIN toks tb ON tb.id = c.id_b AND tb.key = ta.key
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |       floor((i / (sa.sz + sb.sz - i)) * 1e6 + 0.5) / 1e6 AS jaccard
           |FROM inter JOIN sizes sa ON sa.id = id_a
           |           JOIN sizes sb ON sb.id = id_b
           |WHERE i / (sa.sz + sb.sz - i) >= 0.2
           |ORDER BY id_a, id_b""".stripMargin
      },
      api = "Dedup.minHashNearDupAgainstSig",
      desc = "Production incremental near-dup: delta joins the corpus' STORED signature table — nothing corpus-sized recomputed or cached."),

    // batch, id_a from either side (new-new pairs canonical once).
    "dd_incremental_neardup" -> QueryDef(
      (s, dir) => {
        val sh = docShinglesRaw(s, dir)
        Dedup.minHashNearDupAgainst(
            sh.filter(col("id").cast("long") % 4 =!= 0),
            sh.filter(col("id").cast("long") % 4 === 0),
            numPerm = 16, bands = 4, threshold = 0.2)
          .select(col("id_a"), col("id_b"), Num.stableRound(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some {
        val sig = MinHash.signatureSql(docShinglesSql, 16)
        val buckets = MinHash.bandBucketsSql("SELECT * FROM sig", 4, 4)
        s"""WITH sig AS ($sig),
           |buckets AS ($buckets),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM buckets a JOIN buckets b ON a.key = b.key
           |  WHERE cast(b.id AS bigint) % 4 = 0
           |    AND ((cast(a.id AS bigint) % 4 <> 0 AND a.id <> b.id)
           |      OR (cast(a.id AS bigint) % 4 = 0 AND a.id < b.id))),
           |toks AS ($docShinglesSql),
           |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM toks GROUP BY id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS i
           |  FROM cand c JOIN toks ta ON ta.id = c.id_a
           |              JOIN toks tb ON tb.id = c.id_b AND tb.key = ta.key
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |       floor((i / (sa.sz + sb.sz - i)) * 1e6 + 0.5) / 1e6 AS jaccard
           |FROM inter JOIN sizes sa ON sa.id = id_a
           |           JOIN sizes sb ON sb.id = id_b
           |WHERE i / (sa.sz + sb.sz - i) >= 0.2
           |ORDER BY id_a, id_b""".stripMargin
      },
      api = "Dedup.minHashNearDupAgainst",
      desc = "Incremental near-dup of a delta against a corpus (both as raw text) — the bootstrap form of `dd_incremental_sig`."),

    // ---- n-gram (3-shingle) Jaccard near-dup ------------------------------
    "dd_ngram_jaccard" -> QueryDef(
      (s, dir) => Dedup.ngramJaccardPairs(docShingles(s, dir), 0.1)
        .select(col("id_a"), col("id_b"), Num.stableRound(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH sh AS ($docShinglesSql),
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM sh a JOIN sh b ON a.key = b.key AND a.id < b.id),
              |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS i
              |  FROM cand c JOIN sh ta ON ta.id = c.id_a
              |              JOIN sh tb ON tb.id = c.id_b AND tb.key = ta.key
              |  GROUP BY 1, 2)
              |SELECT id_a, id_b, floor((i / (sa.sz + sb.sz - i)) * 1e6 + 0.5) / 1e6 AS jaccard
              |FROM inter JOIN sizes sa ON sa.id = id_a
              |           JOIN sizes sb ON sb.id = id_b
              |WHERE i / (sa.sz + sb.sz - i) >= 0.1
              |ORDER BY id_a, id_b""".stripMargin),
      api = "Dedup.ngramJaccardPairs",
      desc = "N-gram shingle Jaccard near-dup pairs with doc-frequency capped shingles — the bucketed classic."),

    // ---- duplicate-cluster formation over the near-dup pair graph --------
    // connected components via min-label propagation; oracle = recursive
    // CTE computing min reachable id over the same threshold graph.
    "dd_dup_components" -> QueryDef(
      (s, dir) => Dedup.components(
          Dedup.ngramJaccardPairs(docShingles(s, dir), 0.1)
            .select(col("id_a"), col("id_b")))
        .orderBy("id"),
      Some(s"""WITH RECURSIVE sh AS ($docShinglesSql),
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM sh a JOIN sh b ON a.key = b.key AND a.id < b.id),
              |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS i
              |  FROM cand c JOIN sh ta ON ta.id = c.id_a
              |              JOIN sh tb ON tb.id = c.id_b AND tb.key = ta.key
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT id_a, id_b FROM inter
              |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
              |  WHERE i / (sa.sz + sb.sz - i) >= 0.1),
              |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |        UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT src AS id, src AS lbl FROM sym
              |  UNION
              |  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id)
              |SELECT id, min(lbl) AS component
              |FROM reach GROUP BY id ORDER BY id""".stripMargin),
      api = "Dedup.components",
      desc = "Connected components over dup pairs (frontier-based large-star/small-star, union-find property-tested) → cluster ids."),

    // ---- duplicate-cluster size histogram (dedup effectiveness report) ----
    // cluster sizes from the component labels plus the singleton count
    // from one corpus-size subtraction — the first chart anyone draws
    // after a dedup pass. Aggregations only; the corpus is never joined.
    "dd_cluster_histogram" -> QueryDef(
      (s, dir) => Dedup.clusterHistogram(
          table(s, dir, "documents").select(col("doc_id")),
          Dedup.ngramJaccardPairs(docShingles(s, dir), 0.1)
            .select(col("id_a"), col("id_b")))
        .orderBy("cluster_size"),
      Some(s"""WITH RECURSIVE sh AS ($docShinglesSql),
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM sh a JOIN sh b ON a.key = b.key AND a.id < b.id),
              |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS i
              |  FROM cand c JOIN sh ta ON ta.id = c.id_a
              |              JOIN sh tb ON tb.id = c.id_b AND tb.key = ta.key
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT id_a, id_b FROM inter
              |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
              |  WHERE i / (sa.sz + sb.sz - i) >= 0.1),
              |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |        UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT src AS id, src AS lbl FROM sym
              |  UNION
              |  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id),
              |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
              |cs AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1),
              |hist AS (
              |  SELECT sz AS cluster_size, count(*) AS n_clusters
              |  FROM cs GROUP BY 1
              |  UNION ALL
              |  SELECT 1, (SELECT count(*) FROM documents)
              |            - (SELECT count(*) FROM comp))
              |SELECT cluster_size, sum(n_clusters)::bigint AS n_clusters
              |FROM hist GROUP BY 1 ORDER BY 1""".stripMargin),
      api = "Dedup.clusterHistogram",
      desc = "Duplicate-cluster size histogram — the dedup report surface (groupBy twice, tiny output)."),

    // ---- corpus keep-list: the dedup pipeline's final answer --------------
    // every doc survives unless a component's non-minimal member; the
    // corpus table is scanned once and joined against the (tiny,
    // output-sized) component labels.
    "dd_keep_list" -> QueryDef(
      (s, dir) => Dedup.keepList(
          table(s, dir, "documents").select(col("doc_id")),
          Dedup.ngramJaccardPairs(docShingles(s, dir), 0.1)
            .select(col("id_a"), col("id_b")))
        .orderBy("id"),
      Some(s"""WITH RECURSIVE sh AS ($docShinglesSql),
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM sh a JOIN sh b ON a.key = b.key AND a.id < b.id),
              |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS i
              |  FROM cand c JOIN sh ta ON ta.id = c.id_a
              |              JOIN sh tb ON tb.id = c.id_b AND tb.key = ta.key
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT id_a, id_b FROM inter
              |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
              |  WHERE i / (sa.sz + sb.sz - i) >= 0.1),
              |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |        UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT src AS id, src AS lbl FROM sym
              |  UNION
              |  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id),
              |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
              |SELECT cast(d.doc_id AS varchar) AS id,
              |       (c.component IS NULL OR c.component = cast(d.doc_id AS varchar)) AS keep,
              |       CASE WHEN c.component = cast(d.doc_id AS varchar) THEN NULL
              |            ELSE c.component END AS kept_by
              |FROM documents d LEFT JOIN comp c ON c.id = cast(d.doc_id AS varchar)
              |ORDER BY id""".stripMargin),
      api = "Dedup.keepList",
      desc = "Keep-list: one representative per dup cluster (min id), everything else marked for drop."),

    // ---- quality-aware keep-list: keep the BEST duplicate, not the first --
    // same component graph as dd_keep_list; representative = max n_chars
    // (ties → min id). The production dedup policy: keep the longest/
    // cleanest member of each duplicate cluster.
    "dd_keep_best" -> QueryDef(
      (s, dir) => Dedup.keepBest(
          table(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars",
          Dedup.ngramJaccardPairs(docShingles(s, dir), 0.1)
            .select(col("id_a"), col("id_b")))
        .orderBy("id"),
      Some(s"""WITH RECURSIVE sh AS ($docShinglesSql),
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM sh a JOIN sh b ON a.key = b.key AND a.id < b.id),
              |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS i
              |  FROM cand c JOIN sh ta ON ta.id = c.id_a
              |              JOIN sh tb ON tb.id = c.id_b AND tb.key = ta.key
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT id_a, id_b FROM inter
              |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
              |  WHERE i / (sa.sz + sb.sz - i) >= 0.1),
              |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |        UNION SELECT id_b, id_a FROM pairs),
              |reach(id, lbl) AS (
              |  SELECT DISTINCT src AS id, src AS lbl FROM sym
              |  UNION
              |  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id),
              |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
              |scored AS (
              |  SELECT c.id, c.component, d.n_chars::double AS score
              |  FROM comp c JOIN documents d ON c.id = cast(d.doc_id AS varchar)),
              |best AS (SELECT component, max(score) AS b FROM scored GROUP BY 1),
              |rep AS (
              |  SELECT s.component, min(s.id) AS rep
              |  FROM scored s JOIN best ON best.component = s.component
              |  WHERE s.score = best.b GROUP BY 1)
              |SELECT cast(d.doc_id AS varchar) AS id,
              |       (c.component IS NULL OR r.rep = cast(d.doc_id AS varchar)) AS keep,
              |       CASE WHEN c.component IS NULL OR r.rep = cast(d.doc_id AS varchar)
              |            THEN NULL ELSE r.rep END AS kept_by
              |FROM documents d
              |LEFT JOIN comp c ON c.id = cast(d.doc_id AS varchar)
              |LEFT JOIN rep r ON r.component = c.component
              |ORDER BY id""".stripMargin),
      api = "Dedup.keepBest",
      desc = "Quality-aware keep-best per cluster — deterministic (score, id) ordering, avoids nondeterministic max_by."),

    // ---- deterministic export sharding (pipeline tail) --------------------
    // content-addressed shard per id (md5-long mod 16), mirroring
    // Text.md5Long's first-15-hex-chars construction in the oracle
    "dd_shard_assign" -> QueryDef(
      (s, dir) => Dedup.shardAssignment(
          table(s, dir, "documents").select(col("doc_id")), "doc_id", 16)
        .orderBy("id"),
      Some("""SELECT cast(doc_id AS varchar) AS id,
             |       (('0x'||substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint % 16)::int AS shard
             |FROM documents ORDER BY id""".stripMargin),
      api = "Dedup.shardAssignment",
      desc = "Deterministic export sharding: content-addressed shard id (md5-long mod n) — reproducible output layout."),

    // ---- END-TO-END corpus refinement (the charter in one plan) ----------
    // quality gate → near-dup keep-list over survivors → content-addressed
    // shard manifest: the full training-data pipeline as ONE composed
    // query, every stage reusing an independently-oracled operator
    // (tx_quality_filter rules, dd_keep_list dedup, dd_shard_assign
    // sharding). Output: the final corpus manifest (id, shard).
    "pipe_refine_corpus" -> QueryDef(
      (s, dir) => {
        // persist: the regexp-heavy quality gate feeds both the shingle
        // semi-join and the keep-list scan; released via the seal on the
        // (doc-sized) shard manifest
        val kept = TextAnalysis.qualityFilter(table(s, dir, "documents"))
          .filter(col("keep"))
          .select(col("doc_id").cast("string").as("id"))
          .persist()
        val pairs = Dedup.ngramJaccardPairs(
            docShingles(s, dir).join(kept, Seq("id"), "left_semi"), 0.1)
          .select(col("id_a"), col("id_b"))
        graft.core.CacheScope.seal(
          Dedup.shardAssignment(
              Dedup.keepList(kept, pairs).filter(col("keep")).select(col("id")),
              "id", 16)
            .orderBy("id"),
          kept)
      },
      Some {
        val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH RECURSIVE
           |qt AS (
           |  SELECT doc_id,
           |         list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+'), x -> x != '') AS toks
           |  FROM documents),
           |qs AS (
           |  SELECT doc_id, len(toks) AS m,
           |         list_sum(list_transform(toks, t -> length(t)))::double / len(toks) AS mean_len,
           |         len(list_filter(toks, t -> list_contains($stop, t))) AS stop_cnt,
           |         (len(toks) - len(list_distinct(toks)))::double / len(toks) AS dup_frac
           |  FROM qt),
           |q AS (
           |  SELECT cast(doc_id AS varchar) AS id FROM qs
           |  WHERE m >= 20 AND m <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
           |    AND stop_cnt >= 1 AND dup_frac <= 0.6),
           |sh0 AS ($docShinglesSql),
           |sh AS (SELECT sh0.id, sh0.key FROM sh0 JOIN q ON sh0.id = q.id),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM sh a JOIN sh b ON a.key = b.key AND a.id < b.id),
           |sizes AS (SELECT id, count(DISTINCT key) AS sz FROM sh GROUP BY id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS i
           |  FROM cand c JOIN sh ta ON ta.id = c.id_a
           |              JOIN sh tb ON tb.id = c.id_b AND tb.key = ta.key
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT id_a, id_b FROM inter
           |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
           |  WHERE i / (sa.sz + sb.sz - i) >= 0.1),
           |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |        UNION SELECT id_b, id_a FROM pairs),
           |reach(id, lbl) AS (
           |  SELECT DISTINCT src AS id, src AS lbl FROM sym
           |  UNION
           |  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id),
           |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
           |SELECT q.id,
           |       (('0x'||substr(md5(q.id), 1, 15))::bigint % 16)::int AS shard
           |FROM q LEFT JOIN comp c ON c.id = q.id
           |WHERE c.component IS NULL OR c.component = q.id
           |ORDER BY q.id""".stripMargin
      },
      api = "Dedup + TextAnalysis pipeline",
      desc = "End-to-end curation pipeline: quality gate → near-dup drop → shard assignment, one composed plan."),

    // ---- STREAMING end-to-end corpus refinement ---------------------------
    // The streaming analog of pipe_refine_corpus, run in batch mode
    // against the oracle: quality gate (stateless projection) →
    // streamRefineVerdicts (first-wins MinHash near-dup admission, the
    // SAME stateful operator a readStream deployment runs) →
    // refineKeepManifest (keep = no band matched + content-addressed
    // shard). Keep semantics differ from pipe_refine_corpus's
    // connected-components keep-list BY DESIGN: streaming can't see a
    // component's global minimum, so a document is dropped iff it
    // est-matches ANY earlier-arrived document (arrival = numeric id
    // here), dropped documents still shadowing later copies. The oracle
    // states exactly that rule. MemoryStream multi-batch parity with
    // this batch form is spec-asserted in StreamingSpec.
    "st_pipe_refine" -> QueryDef(
      (s, dir) => {
        implicit val sp: SparkSession = s
        import s.implicits._
        val gated = TextAnalysis.qualityFilter(table(s, dir, "documents"))
          .filter(col("keep")).select(col("doc_id").cast("string").as("id"))
        // repartition before signing — see st_stream_neardup
        val docs = table(s, dir, "documents")
          .select(col("doc_id").cast("string").as("id"),
            col("doc_id").cast("long").as("seq"),
            Text.wordShingles(
              Text.tokenize(col("text"), minLength = 1, stopwords = Nil), 3)
              .as("tokens"))
          .join(gated, Seq("id"), "left_semi")
          .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
          .as[graft.streaming.StreamingOps.SeqDoc]
        graft.streaming.StreamingOps.refineKeepManifest(
            graft.streaming.StreamingOps.streamRefineVerdicts(docs).toDF(), 16)
          .orderBy("id")
      },
      Some {
        val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        val sig = MinHash.signatureSql("SELECT * FROM sh", 16)
        val buckets = MinHash.bandBucketsSql("SELECT * FROM sig", 4, 4)
        val estTerms = (0 until 16)
          .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH qt AS (
           |  SELECT doc_id,
           |         list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+'), x -> x != '') AS toks
           |  FROM documents),
           |qs AS (
           |  SELECT doc_id, len(toks) AS m,
           |         list_sum(list_transform(toks, t -> length(t)))::double / len(toks) AS mean_len,
           |         len(list_filter(toks, t -> list_contains($stop, t))) AS stop_cnt,
           |         (len(toks) - len(list_distinct(toks)))::double / len(toks) AS dup_frac
           |  FROM qt),
           |q AS (
           |  SELECT cast(doc_id AS varchar) AS id FROM qs
           |  WHERE m >= 20 AND m <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
           |    AND stop_cnt >= 1 AND dup_frac <= 0.6),
           |sh0 AS ($docShinglesSql),
           |sh AS (SELECT sh0.id, sh0.key FROM sh0 JOIN q ON sh0.id = q.id),
           |sig AS ($sig),
           |buckets AS ($buckets),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM buckets a JOIN buckets b ON a.key = b.key AND a.id < b.id),
           |dropped AS (
           |  SELECT DISTINCT CASE WHEN id_a::bigint > id_b::bigint
           |                       THEN id_a ELSE id_b END AS id
           |  FROM cand c JOIN sig sa ON sa.id = c.id_a
           |              JOIN sig sb ON sb.id = c.id_b
           |  WHERE ($estTerms)::double / 16 >= 0.375)
           |SELECT q.id,
           |       (('0x'||substr(md5(q.id), 1, 15))::bigint % 16)::int AS shard
           |FROM q LEFT JOIN dropped d ON d.id = q.id
           |WHERE d.id IS NULL
           |ORDER BY q.id""".stripMargin
      },
      api = "StreamingOps pipeline",
      desc = "The refinement pipeline as a stream: gate + stateful dedup + shard tag per micro-batch."),

    // ---- SemDeDup: embedding-cluster semantic dedup (pairs → keep → shard)
    // SemDeDup (Abbas et al. 2023): within-cluster cosine near-dups →
    // keep-list (component minima survive) → shard manifest. The cluster
    // scoping (here the embeddings table's precomputed k-means label —
    // any IVF/KMeans assignment slots in) bounds candidates to
    // Σ|cluster|², the paper's own tractability argument; pairs reuse
    // the oracled cosine kernel, the tail reuses dd_keep_list /
    // dd_shard_assign stages.
    "pipe_semantic_dedup" -> QueryDef(
      (s, dir) => {
        val e = table(s, dir, "embeddings")
          .select(col("label").cast("string").as("cluster"),
            col("vec_id").cast("string").as("id"), col("embedding").as("vec"))
        val pairs = Similarity.clusterNearDup(e, 0.4)
          .select(col("id_a"), col("id_b"))
        Dedup.shardAssignment(
            Dedup.keepList(e.select(col("id")), pairs)
              .filter(col("keep")).select(col("id")),
            "id", 16)
          .orderBy("id")
      },
      Some("""WITH RECURSIVE
             |e AS (
             |  SELECT cast(label AS varchar) AS cluster,
             |         cast(vec_id AS varchar) AS id, embedding
             |  FROM embeddings),
             |expl AS (
             |  SELECT id, cluster, i.i AS i, embedding[i.i]::double AS v
             |  FROM e, range(1, 65) i(i)),
             |norms AS (SELECT id, sqrt(sum(v*v)) AS nrm FROM expl GROUP BY id),
             |dots AS (
             |  SELECT a.id AS id_a, b.id AS id_b, sum(a.v * b.v) AS dot
             |  FROM expl a JOIN expl b
             |    ON a.i = b.i AND a.cluster = b.cluster AND a.id < b.id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id_a, id_b FROM dots
             |  JOIN norms na ON na.id = id_a JOIN norms nb ON nb.id = id_b
             |  WHERE dot / (na.nrm * nb.nrm) >= 0.4),
             |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |        UNION SELECT id_b, id_a FROM pairs),
             |reach(id, lbl) AS (
             |  SELECT DISTINCT src AS id, src AS lbl FROM sym
             |  UNION
             |  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id),
             |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
             |SELECT ids.id,
             |       (('0x'||substr(md5(ids.id), 1, 15))::bigint % 16)::int AS shard
             |FROM (SELECT DISTINCT id FROM e) ids LEFT JOIN comp c ON c.id = ids.id
             |WHERE c.component IS NULL OR c.component = ids.id
             |ORDER BY ids.id""".stripMargin),
      api = "Similarity.clusterNearDup",
      desc = "Semantic (embedding-cluster) dedup composed with keep-list and shard assignment — SemDeDup-style."),

    // ---- Span-level exact dedup + benchmark decontamination ---------------
    // Both operate on ORDERED whitespace tokens (position matters), not the
    // distinct-token pipeline the pairwise dedups use.
    "dd_span_dedup" -> QueryDef(
      (s, dir) => Dedup.spanDedup(table(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("id"),
      Some("""WITH toks AS (
             |  SELECT cast(doc_id AS varchar) AS id,
             |         list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), x -> x != '') AS t
             |  FROM documents),
             |wins AS (
             |  SELECT id,
             |         unnest(range(0, greatest(len(t) - 7, 0))) AS p,
             |         unnest(list_transform(range(0, greatest(len(t) - 7, 0)),
             |                               q -> array_to_string(t[q+1:q+8], ' '))) AS gram
             |  FROM toks),
             |dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) >= 2),
             |cov AS (SELECT DISTINCT id, pos FROM (
             |          SELECT w.id, unnest(range(w.p, w.p + 8)) AS pos
             |          FROM wins w JOIN dup USING (gram))),
             |pos AS (SELECT id, unnest(range(0, len(t))) AS pos, unnest(t) AS tok
             |        FROM toks),
             |kept AS (SELECT p.id, count(*) AS n_kept,
             |                string_agg(p.tok, ' ' ORDER BY p.pos) AS kept_text
             |         FROM pos p LEFT JOIN cov c ON c.id = p.id AND c.pos = p.pos
             |         WHERE c.pos IS NULL
             |         GROUP BY p.id)
             |SELECT toks.id, len(toks.t)::bigint AS n_tokens,
             |       coalesce(k.n_kept, 0)::bigint AS n_kept,
             |       coalesce(k.kept_text, '') AS kept_text
             |FROM toks LEFT JOIN kept k ON k.id = toks.id
             |ORDER BY toks.id""".stripMargin),
      api = "Dedup.spanDedup",
      desc = "Within-doc repeated-span removal (ExactSubstr-style) — fully linear rolling-hash pass, no pairwise stage."),

    // ---- cross-doc exact-substring dedup (ExactSubstr, cross-doc half) ---
    // maximal spans of 8-token windows shared with ANOTHER document, and
    // the cut form removing them; within-doc repeats alone do not
    // trigger. Same whitespace tokenization and window expansion as
    // dd_span_dedup; the island merge is a per-document window.
    "dd_crossdoc_spans" -> QueryDef(
      (s, dir) => Dedup.crossDocSpans(table(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("id", "span_start"),
      Some("""WITH toks AS (
             |  SELECT cast(doc_id AS varchar) AS id,
             |         list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), x -> x != '') AS t
             |  FROM documents),
             |wins AS (
             |  SELECT id,
             |         unnest(range(0, greatest(len(t) - 7, 0))) AS p,
             |         unnest(list_transform(range(0, greatest(len(t) - 7, 0)),
             |                               q -> array_to_string(t[q+1:q+8], ' '))) AS gram
             |  FROM toks),
             |shared AS (SELECT gram FROM (
             |    SELECT gram, count(DISTINCT id) AS d FROM wins GROUP BY 1) WHERE d >= 2),
             |m AS (SELECT id, p FROM wins SEMI JOIN shared USING (gram)),
             |isl AS (SELECT id, p, sum(brk) OVER (PARTITION BY id ORDER BY p) AS isl FROM (
             |  SELECT id, p, CASE WHEN lag(p) OVER (PARTITION BY id ORDER BY p) IS NULL
             |                       OR p > lag(p) OVER (PARTITION BY id ORDER BY p) + 1
             |                     THEN 1 ELSE 0 END AS brk FROM m))
             |SELECT id, min(p)::bigint AS span_start,
             |       (max(p) + 8 - min(p))::bigint AS span_len, count(*) AS n_windows
             |FROM isl GROUP BY id, isl ORDER BY id, span_start""".stripMargin),
      api = "Dedup.crossDocSpans",
      desc = "Cross-document repeated spans (ExactSubstr cross-doc half): maximal token ranges shared with another doc — one gram doc-freq shuffle + per-doc island merge, boilerplate cappable."),

    "dd_crossdoc_cut" -> QueryDef(
      (s, dir) => Dedup.crossDocCut(table(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("id"),
      Some("""WITH toks AS (
             |  SELECT cast(doc_id AS varchar) AS id,
             |         list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), x -> x != '') AS t
             |  FROM documents),
             |wins AS (
             |  SELECT id,
             |         unnest(range(0, greatest(len(t) - 7, 0))) AS p,
             |         unnest(list_transform(range(0, greatest(len(t) - 7, 0)),
             |                               q -> array_to_string(t[q+1:q+8], ' '))) AS gram
             |  FROM toks),
             |shared AS (SELECT gram FROM (
             |    SELECT gram, count(DISTINCT id) AS d FROM wins GROUP BY 1) WHERE d >= 2),
             |cov AS (SELECT DISTINCT id, pos FROM (
             |          SELECT w.id, unnest(range(w.p, w.p + 8)) AS pos
             |          FROM wins w SEMI JOIN shared USING (gram))),
             |pos AS (SELECT id, unnest(range(0, len(t))) AS pos, unnest(t) AS tok
             |        FROM toks),
             |kept AS (SELECT p.id, count(*) AS n_kept,
             |                string_agg(p.tok, ' ' ORDER BY p.pos) AS kept_text
             |         FROM pos p LEFT JOIN cov c ON c.id = p.id AND c.pos = p.pos
             |         WHERE c.pos IS NULL
             |         GROUP BY p.id)
             |SELECT toks.id, len(toks.t)::bigint AS n_tokens,
             |       coalesce(k.n_kept, 0)::bigint AS n_kept,
             |       coalesce(k.kept_text, '') AS kept_text
             |FROM toks LEFT JOIN kept k ON k.id = toks.id
             |ORDER BY toks.id""".stripMargin),
      api = "Dedup.crossDocCut",
      desc = "Removes tokens covered by cross-doc shared windows, keeping within-doc-only repeats — the cut form of dd_crossdoc_spans."),

    "dd_decontaminate" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Dedup.decontaminate(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", 8)
          .orderBy("id")
      },
      Some("""WITH toks AS (
             |  SELECT cast(doc_id AS varchar) AS id, source,
             |         list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), x -> x != '') AS t
             |  FROM documents),
             |wins AS (
             |  SELECT id, source,
             |         unnest(list_transform(range(0, greatest(len(t) - 7, 0)),
             |                               q -> array_to_string(t[q+1:q+8], ' '))) AS gram
             |  FROM toks),
             |hits AS (
             |  SELECT id, count(DISTINCT gram) AS n_hits
             |  FROM wins
             |  WHERE source <> 'src0'
             |    AND gram IN (SELECT gram FROM wins WHERE source = 'src0')
             |  GROUP BY id)
             |SELECT t.id, coalesce(h.n_hits, 0)::bigint AS n_hits,
             |       coalesce(h.n_hits, 0) > 0 AS contaminated
             |FROM toks t LEFT JOIN hits h ON h.id = t.id
             |WHERE t.source <> 'src0'
             |ORDER BY t.id""".stripMargin),
      api = "Dedup.decontaminate",
      desc = "Train/eval decontamination by shared n-grams: train docs containing any eval n-gram are flagged via semi-join."),

    // ---- SimHash fingerprints + near-dup ----------------------------------
    "dd_simhash" -> QueryDef(
      (s, dir) => SimHash.fingerprint(docTokens(s, dir))
        .orderBy("id"),
      Some(s"""SELECT * FROM (${SimHash.fingerprintSql(docTokensSql)}) ORDER BY id""".stripMargin),
      api = "Dedup.simHashNearDupPairs",
      desc = "SimHash 64-bit fingerprints from token hashes — the bit-vote signature primitive."),

    "dd_simhash_neardup" -> QueryDef(
      (s, dir) => Dedup.simHashNearDupPairs(docTokens(s, dir), maxHamming = 10)
        .orderBy("id_a", "id_b"),
      Some {
        val fp = SimHash.fingerprintSql(docTokensSql)
        val chunks = (0 until 4).map(c =>
          s"SELECT id, simhash, '$c:'||((simhash >> ${c * 15}) & 32767) AS chunk FROM fp")
          .mkString(" UNION ALL ")
        s"""WITH fp AS ($fp),
           |chunks AS ($chunks),
           |cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           |         a.simhash AS fa, b.simhash AS fb
           |  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.id < b.id)
           |SELECT id_a, id_b, bit_count(xor(fa, fb)) AS hamming
           |FROM cand WHERE bit_count(xor(fa, fb)) <= 10
           |ORDER BY id_a, id_b""".stripMargin
      },
      api = "Dedup.simHashNearDupPairs",
      desc = "SimHash near-dup: banded bit-block candidates + Hamming verify — never all-pairs."),

    // ---- text analysis ----------------------------------------------------
    "tx_langid" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.langScore(col("text"), "en").as("en_score"))
        .orderBy("doc_id"),
      Some {
        val scoreExprs = TextAnalysis.Lexicons.map { case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString("[", ",", "]")
          s"len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> list_contains($list, t))) AS s_$lang"
        }.mkString(", ")
        val langs = TextAnalysis.Lexicons.map(_._1)
        // argmax with lang-asc tie-break, all-zero → 'und'
        val best = {
          val conds = langs.map(l => s"s_$l").mkString(", ")
          s"""CASE
             |  WHEN greatest($conds) = 0 THEN 'und'
             |  ${langs.map(l => s"WHEN s_$l = greatest($conds) THEN '$l'").mkString("\n  ")}
             |END""".stripMargin
        }
        s"""SELECT doc_id, $best AS lang_pred, s_en AS en_score
           |FROM (SELECT doc_id, text, $scoreExprs FROM documents)
           |ORDER BY doc_id""".stripMargin
      },
      api = "TextAnalysis.langId",
      desc = "N-gram/lexicon language ID with per-language scores — one pass of row-local signals."),

    "tx_quality" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeIshTokenCount(col("text")).as("bpe_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality_e6"))
        .orderBy("doc_id"),
      Some {
        val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        s"""SELECT doc_id,
           |  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
           |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS bpe_tokens,
           |  floor((
           |    least(len(toks) / 100.0, 1.0) * 0.4 +
           |    (1.0 - len(list_filter(toks, t -> list_contains($stop, t)))::double / len(toks)) * 0.3 +
           |    least((list_sum(list_transform(toks, t -> length(t)))::double / len(toks)) / 8.0, 1.0) * 0.3
           |    ) * 1e6)::bigint AS quality_e6
           |FROM (SELECT doc_id, text,
           |        regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin
      },
      api = "TextAnalysis.qualityScore",
      desc = "Quality signals per doc: length, punctuation/stopword ratios, ws + BPE-ish token counts."),

    // ---- per-source corpus profile (the reporting surface) ----------------
    // one groupBy over row-local signals: the dashboard numbers a corpus
    // owner reads before deciding gates/mixtures. Means are grid-rational
    // (sums of ints / counts) → gridSafeRound per the rounding protocol.
    "tx_corpus_profile" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("source"), col("lang"),
          TextAnalysis.wsTokenCount(coalesce(col("text"), lit(""))).cast("long").as("nt"),
          TextAnalysis.qualityScore(coalesce(col("text"), lit(""))).as("q"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          Num.gridSafeRound(avg(col("nt")), 2).as("mean_tokens"),
          Num.gridSafeRound(avg(col("q")) / 1e6, 4).as("mean_quality"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("source"),
      Some {
        val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH d AS (
           |  SELECT source, lang,
           |    len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))::bigint AS nt,
           |    floor((
           |      least(len(toks) / 100.0, 1.0) * 0.4 +
           |      (1.0 - len(list_filter(toks, t -> list_contains($stop, t)))::double / len(toks)) * 0.3 +
           |      least((list_sum(list_transform(toks, t -> length(t)))::double / len(toks)) / 8.0, 1.0) * 0.3
           |      ) * 1e6)::bigint AS q
           |  FROM (SELECT source, lang, text,
           |          regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS toks
           |        FROM documents))
           |SELECT source, count(*) AS n_docs, sum(nt)::bigint AS total_tokens,
           |       ${Num.gridSafeRoundSql("avg(nt)", 2)} AS mean_tokens,
           |       ${Num.gridSafeRoundSql("avg(q) / 1e6", 4)} AS mean_quality,
           |       count(DISTINCT lang) AS n_langs
           |FROM d GROUP BY source ORDER BY source""".stripMargin
      },
      api = "TextAnalysis profile agg",
      desc = "Per-source corpus dashboard: means of the row-local quality signals (grid-rational rounding)."),

    // ---- pairwise source vocabulary overlap from mergeable sketches ------
    // union-MinHash property: a source's signature is the element-wise
    // min over its docs' token hashes — one min-aggregate per source,
    // then sources² (tiny) pairwise arithmetic. est exact in micro-units.
    "tx_source_overlap" -> QueryDef(
      (s, dir) => Dedup.sketchOverlap(
          table(s, dir, "documents")
            .select(col("source").as("id"),
              explode(Text.tokenize(col("text"))).as("key")),
          numPerm = 16)
        .orderBy("grp_a", "grp_b"),
      Some {
        val srcToks = QueryDef.duckTokens("source", "text", "documents")
        val sig = MinHash.signatureSql(srcToks, 16)
        val matches = (0 until 16)
          .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH sig AS ($sig)
           |SELECT a.id AS grp_a, b.id AS grp_b,
           |       (($matches) * 62500)::bigint AS est_jaccard_e6
           |FROM sig a JOIN sig b ON a.id < b.id
           |ORDER BY grp_a, grp_b""".stripMargin
      },
      api = "Dedup.sketchOverlap",
      desc = "Pairwise source vocabulary overlap from mergeable union-MinHash sketches — one min-agg per source, then sources² arithmetic.",
      auditAllow = Some("group-count-sized sketch cross (sources² rows; each group pre-collapsed to one signature)")),

    // ---- composite quality GATE (C4/Gopher-style keep/drop decision) ------
    // first-failing rule names the drop reason; thresholds chosen so the
    // synthetic corpus splits across all three active reasons (~52% keep)
    "tx_quality_filter" -> QueryDef(
      (s, dir) => TextAnalysis.qualityFilter(table(s, dir, "documents"))
        .orderBy("doc_id"),
      Some {
        val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH t AS (
           |  SELECT doc_id,
           |         regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS toks
           |  FROM documents),
           |s AS (
           |  SELECT doc_id, len(toks) AS m,
           |         list_sum(list_transform(toks, t -> length(t)))::double / len(toks) AS mean_len,
           |         len(list_filter(toks, t -> list_contains($stop, t))) AS stop_cnt,
           |         (len(toks) - len(list_distinct(toks)))::double / len(toks) AS dup_frac
           |  FROM t),
           |r AS (
           |  SELECT doc_id, m::bigint AS n_tokens,
           |         floor(dup_frac * 1e6)::bigint AS dup_frac_e6,
           |         CASE WHEN m < 20 OR m > 100000 THEN 'n_tokens'
           |              WHEN mean_len < 3.0 OR mean_len > 10.0 THEN 'mean_word_len'
           |              WHEN stop_cnt < 1 THEN 'stopwords'
           |              WHEN dup_frac > 0.6 THEN 'repetition' END AS reason
           |  FROM s)
           |SELECT doc_id, n_tokens, dup_frac_e6, reason, reason IS NULL AS keep
           |FROM r ORDER BY doc_id""".stripMargin
      },
      api = "TextAnalysis.qualityFilter",
      desc = "The quality gate: thresholded composite score, pushdown-friendly single filter."),

    // ---- END-TO-END curation verdicts ("tag, don't drop" funnel) ----------
    // Every independently-oracled stage (tx_langid gate, tx_quality_filter
    // rules, dd_exact canonical key, dd_decontaminate 4-gram overlap)
    // composed into ONE per-document verdict row with first-failure
    // drop_stage attribution — the observable form of pipe_refine_corpus.
    // One row-local front (all four signals, codegen'd) and one dup_key
    // window for the min-id canonical: one exchange, no join.
    // Parameters chosen so every stage engages on the synthetic corpus
    // (lang 115 / quality 168 / duplicate 1 / contaminated 17 / keep 174
    // at sf0.01). Benchmark = src0 (the dd_decontaminate framing).
    "cur_verdicts" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Curation.verdicts(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text",
            allowedLangs = Seq("en", "de", "fr"), contamN = 4)
          .orderBy("id")
      },
      Some(s"$curationVerdictsSql\nSELECT * FROM v ORDER BY id"),
      api = "Curation.verdicts",
      desc = "\"Tag, don't drop\" curation verdicts: langid gate → quality rules → exact-dup canonical → decontamination, one row per input doc with first-failure drop_stage attribution; one row-local front, one dup-key window, no join."),

    // same verdicts through the streaming form: cur_verdicts' front and
    // drop-stage rule, with an fMGWS first-seen canonical in place of the
    // window; batch invocation == Curation.verdicts by construction, so
    // it shares the oracle. MemoryStream parity lives in StreamingSpec.
    "st_curation_verdicts" -> QueryDef(
      (s, dir) => {
        implicit val sp: SparkSession = s
        val docs = table(s, dir, "documents")
        graft.streaming.StreamingCuration.verdicts(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text",
            allowedLangs = Seq("en", "de", "fr"), contamN = 4)
          .toDF()
          .orderBy("id")
      },
      Some(s"$curationVerdictsSql\nSELECT * FROM v ORDER BY id"),
      api = "StreamingCuration.verdicts",
      desc = "Curation at ingest: the cur_verdicts plan with one fMGWS (first-seen dup canonical) in place of its window — same row-local front (WindowHitCount decontamination) and drop-stage rule."),

    // ---- §2.10 curation TTL: multi-wave canonical-horizon replay ----------
    // The divergent MULTI-batch semantics of the TTL'd dup-canonical
    // store (StreamingCuration stateTtl — the third TTL state store,
    // closing the same gap st_ttl_token_replay/st_ttl_neardup_replay
    // closed for the other two): three deterministic waves over a
    // synthesized 8-family corpus (4 ids per content family, ids
    // d<4F+k>; every doc passes the gates), ttl 1 h, watermark 0 s.
    //   wave 1 (T):       all 32 → family min-id canonicals keep, the
    //                     rest dup_of=canonical;
    //   wave 2 (T+2 h):   one NON-canonical member of families 0–3 →
    //                     pure in-horizon dups; their families' horizon
    //                     slides to T+2 h — ANY sighting refreshes, not
    //                     just the canonical's;
    //   wave 3 (T+3.5 h): wm = T+2 h, floor T+1 h. Families 2,3
    //                     (refreshed) stay dup. Families 4,5 (last seen
    //                     T) are PAST the horizon but receive data in
    //                     this very batch — and the replay runs with
    //                     noDataMicroBatches OFF (continuous-operation
    //                     shape: no idle batch fires the timeouts
    //                     between waves), so the horizon-on-ACCESS rule
    //                     is the ONLY guard and this row pins it:
    //                     family 4 re-sights its old canonical id (d116
    //                     → re-elected, second keep emission); family 5
    //                     arrives WITHOUT its old canonical (d122, d123
    //                     → d122 is the fresh canonical, d123
    //                     dup_of=d122 — without the access eviction
    //                     both would point at the stale d120). Families
    //                     6,7 never expire within the run (no further
    //                     data, no idle batches), emitting nothing
    //                     either way.
    // Output = per-(id, keep, dup_of) emission counts; the oracle
    // replays the rule wave by wave (min-id canonicals, the
    // any-sighting refresh, the wm−ttl floor, re-election on expiry).
    "st_ttl_curation_replay" -> QueryDef(
      (s, dir) => {
        implicit val sp: SparkSession = s
        import s.implicits._
        val base = 1700000000000L
        val hour = 3600000L
        // the family marker must survive tokenization (single-char
        // tokens are dropped by the min-length rule): one fused token
        def text(f: Long) =
          s"the quick brown fox pack$f jumps over the lazy dog today"
        // ids shifted to 100..131: the operator's canonical is the
        // LEXICOGRAPHIC min id (string sort), so equal-width ids keep
        // lexicographic = numeric
        def wave(ms: Long, p: Long => Boolean) =
          (0L until 32L).filter(p).map(i =>
            (i + 100L, text(i / 4), new java.sql.Timestamp(ms)))
        val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
        // idle batches would fire the expiry timeouts BETWEEN waves and
        // the access branch would never run (same output, nothing
        // pinned) — turn them off for the replay, restore after
        val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
        val ndPrev = s.conf.get(ndKey, "true")
        s.conf.set(ndKey, "false")
        val sink = try graft.streaming.StreamingOps.replayWaves(
          Seq(
            wave(base, _ => true),
            wave(base + 2 * hour, i => i / 4 < 4 && i % 4 == 1),
            wave(base + 7 * hour / 2, i =>
              ((i / 4 == 2 || i / 4 == 3) && i % 4 == 1) ||
                Set(16L, 19L, 22L, 23L)(i))),
          "st_ttl_cur_replay") { ds =>
          graft.streaming.StreamingCuration.verdicts(
            ds.toDF("doc_id", "text", "ts"), bench,
            allowedLangs = Seq("en"), contamN = 3, minWords = 4,
            minMeanLen = 1.0, maxMeanLen = 20.0, minStopwords = 1,
            stateTtl = Some("1 hour"), tsCol = "ts")
        } finally s.conf.set(ndKey, ndPrev)
        graft.core.CacheScope.seal(
          sink
            .groupBy(concat(lit("d"), col("id")).as("doc"),
              col("keep"), coalesce(col("dup_of"), lit("-")).as("dup_of"))
            .agg(count(lit(1)).as("emits"))
            .select(col("doc").as("id"), col("keep"),
              when(col("dup_of") =!= "-", concat(lit("d"), col("dup_of")))
                .otherwise("-").as("dup_of"),
              col("emits"))
            .orderBy("id", "dup_of"),
          sink)
      },
      Some {
        // wave-3's own time (T+3.5 h) never enters the replay: liveness
        // at wave 3 depends only on the watermark, which is the max
        // PRIOR event time t2
        val (t1, t2) = (1700000000000L, 1700007200000L)
        s"""WITH docs AS (SELECT i + 100 AS id, i // 4 AS fam FROM range(32) t(i)),
           |w1 AS (SELECT id, fam FROM docs),
           |w2 AS (SELECT id, fam FROM docs WHERE fam < 4 AND id % 4 = 1),
           |w3 AS (SELECT id, fam FROM docs
           |       WHERE (fam IN (2, 3) AND id % 4 = 1)
           |          OR id IN (116, 119, 122, 123)),
           |c1 AS (SELECT fam, min(id) AS canon FROM w1 GROUP BY fam),
           |e1 AS (SELECT w1.id,
           |         CASE WHEN w1.id = c1.canon THEN NULL ELSE c1.canon END AS dup_of
           |       FROM w1 JOIN c1 USING (fam)),
           |-- wave 2: floor $t1 − 1 h keeps everything live; any sighting
           |-- slides the family's horizon to $t2
           |e2 AS (SELECT w2.id,
           |         CASE WHEN w2.id = c1.canon THEN NULL ELSE c1.canon END AS dup_of
           |       FROM w2 JOIN c1 USING (fam)),
           |s2 AS (SELECT c1.fam, c1.canon,
           |         CASE WHEN EXISTS (SELECT 1 FROM w2 WHERE w2.fam = c1.fam)
           |              THEN $t2 ELSE $t1 END AS seen
           |       FROM c1),
           |-- wave 3: wm = $t2, floor = wm − 1 h; expired families
           |-- re-elect the min arriving id
           |live3 AS (SELECT fam, canon FROM s2 WHERE seen >= $t2 - 3600000),
           |c3 AS (SELECT fam, canon FROM live3
           |       UNION ALL
           |       SELECT fam, min(id) FROM w3
           |       WHERE fam NOT IN (SELECT fam FROM live3) GROUP BY fam),
           |e3 AS (SELECT w3.id,
           |         CASE WHEN w3.id = c3.canon THEN NULL ELSE c3.canon END AS dup_of
           |       FROM w3 JOIN c3 USING (fam)),
           |em AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
           |       UNION ALL SELECT * FROM e3)
           |SELECT 'd' || id AS id,
           |       dup_of IS NULL AS keep,
           |       coalesce('d' || dup_of, '-') AS dup_of,
           |       count(*) AS emits
           |FROM em GROUP BY 1, 2, 3
           |ORDER BY id, dup_of""".stripMargin
      },
      api = "StreamingCuration.verdicts (stateTtl)",
      desc = "Multi-wave replay of the TTL'd dup-canonical store: in-horizon dups, any-sighting refresh, horizon-on-access eviction with canonical re-election — the third TTL state store's divergent multi-batch semantics, oracled wave by wave."),

    // funnel report over the same verdicts, per source: stage drop counts
    // + surviving token mass — the dashboard a corpus owner reads before
    // committing to the gates
    "cur_funnel" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val v = Curation.verdicts(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text",
            allowedLangs = Seq("en", "de", "fr"), contamN = 4)
          .join(docs.select(col("doc_id").cast("string").as("id"),
            col("source")), Seq("id"))
        Curation.funnel(v, Seq("source")).orderBy("source")
      },
      Some(s"""$curationVerdictsSql
             |SELECT d.source,
             |       count(*) AS n_docs,
             |       count(*) FILTER (WHERE drop_stage = 'lang') AS n_lang,
             |       count(*) FILTER (WHERE drop_stage = 'quality') AS n_quality,
             |       count(*) FILTER (WHERE drop_stage = 'duplicate') AS n_duplicate,
             |       count(*) FILTER (WHERE drop_stage = 'contaminated') AS n_contaminated,
             |       count(*) FILTER (WHERE keep) AS n_kept,
             |       coalesce(sum(n_tokens) FILTER (WHERE keep), 0)::bigint AS kept_tokens
             |FROM v JOIN documents d ON cast(d.doc_id AS varchar) = v.id
             |GROUP BY d.source ORDER BY d.source""".stripMargin),
      api = "Curation.funnel",
      desc = "Per-source funnel report over the verdict table: stage drop counts + surviving token mass — the gate-cost dashboard."),

    // ---- discriminative quality classifier (GPT-3-style quality pump) ----
    // train LR on reference-vs-degraded (bootstrap negatives: stopword-
    // stripped 8-token prefixes of a deterministic corpus sample), score
    // the corpus as a literal-weight codegen projection. Invariant-graded
    // oracle (the m11/mh_mllib pattern): exact set sizes + exact corpus
    // feature mean, pinned flags for score range, train-set accuracy
    // (measured 1.0 at sf0.001/0.01/0.1, floor 0.9) and pos/neg mean
    // separation.
    "tx_quality_classifier" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val corpus = docs.filter(col("source") =!= "src0")
          .select(col("doc_id"), col("text"))
        val ref = docs.filter(col("source") === "src0")
          .select(col("doc_id"), col("text"))
        val pos = QualityClassifier.features(ref, "doc_id", "text")
          .withColumn("label", lit(1.0))
        val neg = QualityClassifier.features(
            corpus.filter(Text.md5Long(col("doc_id").cast("string")) % 7 === 0)
              .select(col("doc_id"),
                QualityClassifier.degrade(col("text")).as("text")),
            "doc_id", "text")
          .withColumn("label", lit(0.0))
        val model = QualityClassifier.fit(pos.unionByName(neg))
        val scored = QualityClassifier.features(corpus, "doc_id", "text")
          .withColumn("q", model.score)
        val corpusAgg = scored.agg(
          count(lit(1)).as("n_corpus"),
          Num.gridSafeRound(avg(col("stop_ratio")), 6).as("mean_stop_ratio"),
          (min(col("q")) >= 0.0 && max(col("q")) <= 1.0).as("range_ok"))
        val posAgg = pos.withColumn("q", model.score).agg(
          count(lit(1)).as("n_pos"),
          avg(col("q")).as("_pos_mean"),
          (avg(when(col("q") > 0.5, 1.0).otherwise(0.0)) >= 0.9).as("pos_acc_ok"))
        val negAgg = neg.withColumn("q", model.score).agg(
          count(lit(1)).as("n_neg"),
          avg(col("q")).as("_neg_mean"),
          (avg(when(col("q") < 0.5, 1.0).otherwise(0.0)) >= 0.9).as("neg_acc_ok"))
        corpusAgg.crossJoin(posAgg).crossJoin(negAgg)
          .select(col("n_corpus"), col("n_pos"), col("n_neg"),
            col("mean_stop_ratio"), col("range_ok"),
            col("pos_acc_ok"), col("neg_acc_ok"),
            (col("_pos_mean") > col("_neg_mean")).as("separation_ok"))
      },
      Some {
        val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH c AS (
           |  SELECT regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS wtoks
           |  FROM documents WHERE source <> 'src0')
           |SELECT (SELECT count(*) FROM documents WHERE source <> 'src0') AS n_corpus,
           |       (SELECT count(*) FROM documents WHERE source = 'src0') AS n_pos,
           |       (SELECT count(*) FROM documents WHERE source <> 'src0'
           |          AND (('0x'||substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint % 7) = 0) AS n_neg,
           |       (SELECT ${Num.gridSafeRoundSql(
                      s"avg(len(list_filter(wtoks, t -> list_contains($stop, t)))::double / len(wtoks))", 6)}
           |        FROM c) AS mean_stop_ratio,
           |       true AS range_ok, true AS pos_acc_ok, true AS neg_acc_ok,
           |       true AS separation_ok""".stripMargin
      },
      api = "QualityClassifier.fit/score",
      desc = "GPT-3-style discriminative quality pump: LR trained on reference-vs-degraded, corpus scored as a literal-weight codegen projection (invariant-graded oracle).",
      auditAllow = Some("one-row invariant-summary scalars crossJoined for the single-row output")),

    // ---- per-source document cap (batch crawl throttle) -------------------
    // keep the 10 highest-quality docs per source (the batch analog of the
    // streaming per-key rate limiter, quality-ranked instead of
    // arrival-ranked); deterministic tiebreak on doc_id. Per-source
    // windows shuffle on the source key — at corpus scale sources are
    // many, so no single window serializes.
    "tx_source_cap" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("quality_e6").desc, col("doc_id"))
        table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("quality_e6"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select(col("doc_id"), col("source"), col("quality_e6"), col("rk"))
          .orderBy("source", "rk")
      },
      Some {
        val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH q AS (
           |  SELECT doc_id, source,
           |    floor((
           |      least(len(toks) / 100.0, 1.0) * 0.4 +
           |      (1.0 - len(list_filter(toks, t -> list_contains($stop, t)))::double / len(toks)) * 0.3 +
           |      least((list_sum(list_transform(toks, t -> length(t)))::double / len(toks)) / 8.0, 1.0) * 0.3
           |      ) * 1e6)::bigint AS quality_e6
           |  FROM (SELECT doc_id, source,
           |          regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
           |        FROM documents)),
           |ranked AS (
           |  SELECT doc_id, source, quality_e6,
           |         row_number() OVER (PARTITION BY source
           |             ORDER BY quality_e6 DESC, doc_id) AS rk
           |  FROM q)
           |SELECT doc_id, source, quality_e6, rk::int AS rk
           |FROM ranked WHERE rk <= 10 ORDER BY source, rk""".stripMargin
      },
      api = "Window per source",
      desc = "Per-source document cap keeping the quality-ranked head — batch form of a per-key rate limiter."),

    // ---- Per-source token-budget selection --------------------------------
    // "fill a training budget": content-addressed priority order, keep ⇔
    // inclusive cumsum ≤ budget. The Spark side runs the bucketed
    // distributed cumsum (hot-group-proof); the oracle states the same
    // rule as one plain window.
    "tx_token_budget" -> QueryDef(
      (s, dir) => TextAnalysis.tokenBudget(
          table(s, dir, "documents"), "doc_id", "text", "source", 300L)
        .orderBy("grp", "id"),
      Some("""WITH d AS (
             |  SELECT source AS grp, cast(doc_id AS varchar) AS id,
             |         len(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))::bigint AS n_tokens,
             |         ('0x'||substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint AS pri
             |  FROM documents),
             |c AS (SELECT grp, id, n_tokens,
             |             sum(n_tokens) OVER (PARTITION BY grp ORDER BY pri, id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM d)
             |SELECT grp, id, n_tokens, cum::bigint AS cum_tokens, cum <= 300 AS keep
             |FROM c ORDER BY grp, id""".stripMargin),
      api = "TextAnalysis.tokenBudget",
      desc = "Token-budget selection: two-phase distributed cumsum (driver prefix bounded by groups×buckets) cuts the corpus at N tokens."),

    // ---- deterministic sequence packing (training-bin assignment) --------
    // same md5-priority order and distributed cumsum as tx_token_budget;
    // bin = exclusive-cumsum div window (docs never split across bins).
    "tx_pack_sequences" -> QueryDef(
      (s, dir) => TextAnalysis.packSequences(
          table(s, dir, "documents"), "doc_id", "text", "source", 200L)
        .orderBy("grp", "id"),
      Some("""WITH d AS (
             |  SELECT source AS grp, cast(doc_id AS varchar) AS id,
             |         len(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))::bigint AS n_tokens,
             |         ('0x'||substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint AS pri
             |  FROM documents),
             |c AS (SELECT grp, id, n_tokens,
             |             coalesce(sum(n_tokens) OVER (PARTITION BY grp ORDER BY pri, id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
             |      FROM d)
             |SELECT grp, id, n_tokens, (prev // 200)::bigint AS bin
             |FROM c ORDER BY grp, id""".stripMargin),
      api = "TextAnalysis.packSequences",
      desc = "Training-sequence packing to a context length via the distributed cumsum — no driver-side loop."),

    // ---- overlapping token-window chunking (RAG/embedding prep) ----------
    // row-local: whitespace split + window arithmetic + per-chunk md5 in
    // one projection with a posexplode; no shuffle at all.
    "tx_chunk_windows" -> QueryDef(
      (s, dir) => TextAnalysis.chunkWindows(
          table(s, dir, "documents"), "doc_id", "text", 64, 16)
        .orderBy("id", "chunk_idx"),
      Some("""WITH base AS (
             |  SELECT cast(doc_id AS varchar) AS id,
             |         list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
             |                     t -> t != '') AS l
             |  FROM documents),
             |n AS (SELECT id, l, greatest(len(l), 1) AS m FROM base),
             |c AS (SELECT id, l, greatest((m - 16 + 47) // 48, 1)::int AS nch FROM n),
             |e AS (SELECT id, l, unnest(range(0, nch))::int AS chunk_idx FROM c),
             |w AS (SELECT id, chunk_idx, chunk_idx * 48 AS chunk_start,
             |             l[chunk_idx * 48 + 1 : chunk_idx * 48 + 64] AS ck FROM e)
             |SELECT id, chunk_idx, chunk_start::int AS chunk_start,
             |       len(ck) AS n_tok, md5(array_to_string(ck, ' ')) AS chunk_md5
             |FROM w ORDER BY id, chunk_idx""".stripMargin),
      api = "TextAnalysis.chunkWindows",
      desc = "Overlapping token-window chunking per document (posexplode over computed offsets)."),

    // ---- deterministic weighted sampling (Efraimidis-Spirakis A-ES) ------
    // per-source top-10 by u^(1/w), u content-addressed (md5 of id),
    // w = whitespace token count ("sample proportionally to length").
    "tx_weighted_sample" -> QueryDef(
      (s, dir) => {
        val d = table(s, dir, "documents")
        TextAnalysis.weightedSample(d, "doc_id", "source",
            TextAnalysis.wsTokenCount(coalesce(col("text"), lit(""))), 10)
          .orderBy("grp", "rank")
      },
      Some("""WITH d AS (
             |  SELECT source AS grp, cast(doc_id AS varchar) AS id,
             |         len(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))::double AS w,
             |         (('0x'||substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint + 0.5)
             |           / 1152921504606846976.0 AS u
             |  FROM documents),
             |k AS (SELECT grp, id, w, power(u, 1.0 / w) AS key FROM d WHERE w > 0),
             |r AS (SELECT grp, id, w, row_number() OVER (PARTITION BY grp
             |          ORDER BY key DESC, id ASC) AS rank FROM k)
             |SELECT grp, id, w, rank::int AS rank FROM r
             |WHERE rank <= 10 ORDER BY grp, rank""".stripMargin),
      api = "TextAnalysis.weightedSample",
      desc = "Deterministic weighted sampling by content hash — reproducible without a global sort."),

    // ---- distributed BPE merge learning (Sennrich et al. 2016) -----------
    // corpus → (word, count) vocabulary ONCE; each round = vocab-sized
    // pair count + one-row argmax broadcast + row-local delimiter-string
    // merge. The oracle replays all rounds as chained CTEs.
    "tx_bpe_merges" -> QueryDef(
      (s, dir) => TextAnalysis.bpeMerges(
          table(s, dir, "documents"), "text", rounds = 8)
        .orderBy("round"),
      Some(bpeMergesSql(8)),
      api = "TextAnalysis.bpeMerges",
      desc = "BPE merge learning: iterative pair-count aggs, pairless rounds are no-ops; vocab stays driver-tiny."),

    // ---- BPE application (the encode side of the learned merges) ---------
    // per-document word vs subword counts after the 8 learned merges —
    // segmentation computed once per DISTINCT word, corpus pass = one
    // vocab join.
    "tx_bpe_encode" -> QueryDef(
      (s, dir) => TextAnalysis.bpeEncode(
          table(s, dir, "documents"), "doc_id", "text", rounds = 8)
        .orderBy("id"),
      Some(bpeEncodeSql(8)),
      api = "TextAnalysis.bpeEncode",
      desc = "BPE encoding with the learned merge table broadcast — token counts per doc."),

    // ---- packed-bin materialization (the training samples themselves) ----
    // members concatenated in the same md5-priority order that packed
    // them; per-bin agg state bounded by the window by construction.
    "tx_pack_bins" -> QueryDef(
      (s, dir) => TextAnalysis.packBins(
          table(s, dir, "documents"), "doc_id", "text", "source", 200L)
        .orderBy("grp", "bin"),
      Some("""WITH d AS (
             |  SELECT source AS grp, cast(doc_id AS varchar) AS id,
             |         coalesce(text, '') AS txt,
             |         len(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))::bigint AS n_tokens,
             |         ('0x'||substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint AS pri
             |  FROM documents),
             |c AS (SELECT grp, id, txt, n_tokens, pri,
             |             coalesce(sum(n_tokens) OVER (PARTITION BY grp ORDER BY pri, id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
             |      FROM d)
             |SELECT grp, (prev // 200)::bigint AS bin, count(*) AS n_docs,
             |       sum(n_tokens)::bigint AS bin_tokens,
             |       string_agg(txt, ' ' ORDER BY pri, id) AS text
             |FROM c GROUP BY grp, (prev // 200)::bigint
             |ORDER BY grp, bin""".stripMargin),
      api = "TextAnalysis.packBins",
      desc = "First-fit-style bin packing of docs into fixed-token bins, bucketed to stay distributed."),

    // ---- PII redaction audit -------------------------------------------
    // The corpus text carries no PII, so the query plants deterministic
    // synthetic PII IN-QUERY (same expression both engines) on a subset
    // of docs, then redacts — exercising match, multi-pattern chaining,
    // and the no-match passthrough on the rest. Patterns live in
    // TextAnalysis.PiiPatterns (portable Java/RE2 subset).
    "tx_pii_redact" -> QueryDef(
      (s, dir) => {
        val enriched = table(s, dir, "documents").select(
          col("doc_id"),
          concat(
            coalesce(col("text"), lit("")),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@mail.example.com"))).otherwise(lit("")),
            when(col("doc_id") % 4 === 0,
              concat(lit(" call 555-123-"),
                ((col("doc_id") % 9000) + 1000).cast("string"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
                lit(".7"))).otherwise(lit(""))).as("t"))
        TextAnalysis.piiRedact(enriched, "doc_id", "t").orderBy("id")
      },
      Some {
        val Seq(emailRe, ipRe, phoneRe) =
          TextAnalysis.PiiPatterns.map { case (_, re, _) => re }
        s"""WITH e AS (
           |  SELECT cast(doc_id AS varchar) AS id,
           |    coalesce(text, '')
           |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || cast(doc_id AS varchar) || '@mail.example.com' ELSE '' END
           |    || CASE WHEN doc_id % 4 = 0 THEN ' call 555-123-' || cast(doc_id % 9000 + 1000 AS varchar) ELSE '' END
           |    || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || cast(doc_id % 256 AS varchar) || '.7' ELSE '' END AS t
           |  FROM documents)
           |SELECT id,
           |  len(regexp_extract_all(t, '$emailRe'))::bigint AS n_email,
           |  len(regexp_extract_all(t, '$ipRe'))::bigint AS n_ip,
           |  len(regexp_extract_all(t, '$phoneRe'))::bigint AS n_phone,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '$emailRe', '<EMAIL>', 'g'),
           |    '$ipRe', '<IP>', 'g'),
           |    '$phoneRe', '<PHONE>', 'g') AS redacted
           |FROM e ORDER BY id""".stripMargin
      },
      api = "TextAnalysis.piiRedact",
      desc = "Multi-pattern PII redaction (emails/phones/ids) — chained regexp_replace, portable RE2-safe patterns."),

    // ---- unigram-LM quality scoring (reference slice = src0) -------------
    // ln() is irrational for every smoothed ratio here, so stableRound
    // at 1e-6 is boundary-safe (the grid-rational hazard does not apply).
    "tx_lm_score" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        TextAnalysis.lmScore(docs, docs.filter(col("source") === "src0"))
          .orderBy("id")
      },
      Some {
        val refToks = QueryDef.duckTokens("cast(doc_id AS varchar)", "text",
          "(SELECT * FROM documents WHERE source = 'src0')")
        val docToks = QueryDef.duckTokens("cast(doc_id AS varchar)", "text",
          "documents")
        s"""WITH rc AS (SELECT key AS tok, count(*) AS c FROM ($refToks) GROUP BY 1),
           |tot AS (SELECT sum(c)::double AS n, count(*)::double AS v FROM rc),
           |dt AS ($docToks)
           |SELECT dt.id, count(*) AS n_toks,
           |       ${Num.stableRoundSql(
                      "avg(-ln((coalesce(rc.c, 0) + 1.0) / (tot.n + tot.v + 1.0)))", 6)} AS nll_e6
           |FROM dt LEFT JOIN rc ON rc.tok = dt.key, tot
           |GROUP BY dt.id ORDER BY dt.id""".stripMargin
      },
      api = "TextAnalysis.lmScore",
      desc = "Unigram LM log-probability scoring against corpus-derived frequencies (broadcast vocab).",
      auditAllow = Some("one-row (N, V) reference-totals broadcast into the smoothed log-prob projection")),

    // ---- CCNet head/middle/tail perplexity buckets (Wenzek et al. 2019) --
    // Thresholds are exact interpolated percentiles of the 6dp-rounded
    // scores, themselves stable-rounded — both engines compare identical
    // doubles, so the bucket boundary cannot flip (the ev_value_quantiles
    // percentile-portability protocol).
    "tx_lm_buckets" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        TextAnalysis.lmBuckets(docs, docs.filter(col("source") === "src0"))
          .orderBy("id")
      },
      Some {
        val refToks = QueryDef.duckTokens("cast(doc_id AS varchar)", "text",
          "(SELECT * FROM documents WHERE source = 'src0')")
        val docToks = QueryDef.duckTokens("cast(doc_id AS varchar)", "text",
          "documents")
        s"""WITH rc AS (SELECT key AS tok, count(*) AS c FROM ($refToks) GROUP BY 1),
           |tot AS (SELECT sum(c)::double AS n, count(*)::double AS v FROM rc),
           |dt AS ($docToks),
           |sc AS (SELECT dt.id, count(*) AS n_toks,
           |         ${Num.stableRoundSql(
                        "avg(-ln((coalesce(rc.c, 0) + 1.0) / (tot.n + tot.v + 1.0)))", 6)} AS nll_e6
           |       FROM dt LEFT JOIN rc ON rc.tok = dt.key, tot
           |       GROUP BY dt.id),
           |s AS (SELECT sc.*, d.source AS grp
           |      FROM sc JOIN documents d ON cast(d.doc_id AS varchar) = sc.id),
           |thr AS (SELECT grp,
           |          ${Num.stableRoundSql("quantile_cont(nll_e6, 1.0/3)", 6)} AS t1,
           |          ${Num.stableRoundSql("quantile_cont(nll_e6, 2.0/3)", 6)} AS t2
           |        FROM s GROUP BY grp)
           |SELECT s.id, s.grp, s.n_toks, s.nll_e6,
           |       CASE WHEN s.nll_e6 <= thr.t1 THEN 'head'
           |            WHEN s.nll_e6 <= thr.t2 THEN 'middle'
           |            ELSE 'tail' END AS bucket
           |FROM s JOIN thr USING (grp) ORDER BY s.id""".stripMargin
      },
      api = "TextAnalysis.lmBuckets",
      desc = "CCNet head/middle/tail buckets at per-group LM-score terciles — exact percentiles broadcast back.",
      auditAllow = Some("one-row (N, V) reference-totals broadcast (the lmScore stage; thresholds themselves ride a groups-sized broadcast hash join)")),

    // ---- token entropy (information-density quality signal) --------------
    "tx_entropy" -> QueryDef(
      (s, dir) => TextAnalysis.tokenEntropy(table(s, dir, "documents"))
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(list_filter(
             |    regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
             |    x -> length(x) >= 1)) AS tok
             |  FROM documents),
             |tc AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2)
             |SELECT doc_id, sum(c)::bigint AS n_toks, count(*) AS vocab,
             |       floor((ln(sum(c)::double)
             |              - sum(c * ln(c)) / sum(c)::double) * 1e6 + 0.5) / 1e6
             |         AS entropy
             |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      api = "TextAnalysis.tokenEntropy",
      desc = "Per-doc token entropy — low-entropy (repetitive/templated) docs surface for gating."),

    // ---- bigram LM scoring, stupid backoff (Brants et al. 2007) ---------
    "tx_lm_bigram" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        TextAnalysis.lmBigramScore(docs, docs.filter(col("source") === "src0"))
          .orderBy("id")
      },
      Some {
        val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        def toks(rel: String) =
          s"""SELECT cast(doc_id AS varchar) AS id,
             |  list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
             |              t -> length(t) >= 3 AND NOT list_contains($stop, t)) AS l
             |FROM $rel""".stripMargin
        s"""WITH base AS (${toks("documents")}),
           |rbase AS (${toks("(SELECT * FROM documents WHERE source = 'src0')")}),
           |runi AS (SELECT t AS tok, count(*) AS cu
           |         FROM (SELECT unnest(l) AS t FROM rbase) GROUP BY 1),
           |tot AS (SELECT coalesce(sum(cu), 0)::double AS n,
           |               count(*)::double AS v FROM runi),
           |rbi AS (SELECT l[i] AS w1, l[i+1] AS w2, count(*) AS cb
           |        FROM (SELECT l, unnest(range(1, len(l))) AS i FROM rbase)
           |        GROUP BY 1, 2),
           |db AS (SELECT id, l[i] AS w1, l[i+1] AS w2
           |       FROM (SELECT id, l, unnest(range(1, len(l))) AS i FROM base)),
           |s AS (SELECT id,
           |        CASE WHEN cb IS NOT NULL THEN cb / u1.cu
           |             ELSE 0.4 * (coalesce(u2.cu, 0) + 1.0)
           |                  / greatest(tot.n + tot.v, 1)
           |        END AS s
           |      FROM db LEFT JOIN rbi USING (w1, w2)
           |              LEFT JOIN runi u1 ON u1.tok = db.w1
           |              LEFT JOIN runi u2 ON u2.tok = db.w2, tot)
           |SELECT id, count(*) AS n_bigrams,
           |       floor((avg(-ln(s))) * 1e6 + 0.5) / 1e6 AS nll_e6
           |FROM s GROUP BY id ORDER BY id""".stripMargin
      },
      api = "TextAnalysis.lmBigramScore",
      desc = "Bigram LM scoring with backoff — the stronger fluency signal, same broadcast shape.",
      auditAllow = Some("one-row (N, V) model-totals broadcast into the backoff projection (TextAnalysis.lmBigramScore)")),

    // ---- deterministic stratified split ----------------------------------
    "tx_split_assign" -> QueryDef(
      (s, dir) => TextAnalysis.splitAssign(
          table(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .orderBy("id"),
      Some("""SELECT cast(doc_id AS varchar) AS id,
             |       CASE WHEN f < 0.9 THEN 'train'
             |            WHEN f < 0.95 THEN 'val' ELSE 'test' END AS split
             |FROM (SELECT doc_id,
             |             ('0x'||substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint
             |               / 1152921504606846976.0 AS f
             |      FROM documents)
             |ORDER BY id""".stripMargin),
      api = "TextAnalysis.splitAssign",
      desc = "Deterministic train/val/test assignment by content hash — stable across runs and partitionings."),

    // ---- deterministic mixture resampling --------------------------------
    // src0 up-samples 2.5×, src1 down-samples to 0.25×, everything else
    // passes through at 1.0; the md5-fraction stochastic-rounding rule is
    // stated identically (and independently computed) in both engines.
    "tx_mix_sample" -> QueryDef(
      (s, dir) => TextAnalysis.mixtureSample(
          table(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 0.25))
        .orderBy("grp", "id", "copy"),
      Some("""WITH d AS (
             |  SELECT source AS grp, cast(doc_id AS varchar) AS id,
             |         CASE WHEN source = 'src0' THEN 2.5
             |              WHEN source = 'src1' THEN 0.25 ELSE 1.0 END AS w,
             |         ('0x'||substr(md5(cast(doc_id AS varchar)), 1, 15))::bigint
             |           / 1152921504606846976.0 AS f
             |  FROM documents),
             |n AS (SELECT grp, id,
             |             (floor(w) + CASE WHEN f < w - floor(w) THEN 1 ELSE 0 END)::int AS n
             |      FROM d)
             |SELECT grp, id, r.copy AS copy
             |FROM n, range(0, 3) r(copy) WHERE r.copy < n.n
             |ORDER BY grp, id, copy""".stripMargin),
      api = "TextAnalysis.mixtureSample",
      desc = "Mixture sampling to target per-source proportions with content-addressed stochastic rounding."),

    // ---- temperature (α=0.5) source re-balancing --------------------------
    // weights computed FROM the data: w(g) = (p_g^α / Σ p^α) / p_g; same
    // content-addressed stochastic rounding as tx_mix_sample. α = 0.5 →
    // sqrt on both engines (IEEE-exact), so the weight ladder is
    // reproducible bit-for-bit up to the (accepted) Σ-order ulp noise.
    "tx_temperature_mix" -> QueryDef(
      (s, dir) => TextAnalysis.temperatureSample(
          table(s, dir, "documents"), "doc_id", "source", alpha = 0.5)
        .orderBy("grp", "id", "copy"),
      Some("""WITH c AS (SELECT source AS grp, count(*)::double AS c
             |           FROM documents GROUP BY 1),
             |n AS (SELECT sum(c) AS n FROM c),
             |p AS (SELECT grp, c / n.n AS p, sqrt(c / n.n) AS s FROM c, n),
             |z AS (SELECT sum(s) AS z FROM p),
             |w AS (SELECT grp, (s / z.z) / p AS w FROM p, z),
             |d AS (SELECT d0.grp, d0.id, w.w,
             |             ('0x'||substr(md5(d0.id), 1, 15))::bigint
             |               / 1152921504606846976.0 AS f
             |      FROM (SELECT source AS grp, cast(doc_id AS varchar) AS id
             |            FROM documents) d0 JOIN w ON d0.grp = w.grp),
             |x AS (SELECT grp, id, w,
             |             (floor(w) + CASE WHEN f < w - floor(w) THEN 1 ELSE 0 END)::int AS nn
             |      FROM d)
             |SELECT grp, id, r.copy AS copy, floor(w * 1e6 + 0.5) / 1e6 AS w_e6
             |FROM x, range(0, 8) r(copy) WHERE r.copy < x.nn
             |ORDER BY grp, id, copy""".stripMargin),
      api = "TextAnalysis.temperatureSample",
      desc = "Temperature-weighted source mixing (p^(1/T) renormalized) — the multilingual-sampling classic.",
      auditAllow = Some("one-row N and Z totals crossJoin(broadcast) into the groups-sized weight table")),

    // ---- DSIR importance weights (hashed unigram+bigram LLR) --------------
    // target model = the corpus's 'en' slice; raw model = whole corpus.
    // Both models are 1024-bucket count tables; every hash/bucket/smoothing
    // step restated verbatim in the oracle.
    "tx_dsir_weight" -> QueryDef(
      (s, dir) => {
        val d = table(s, dir, "documents")
        TextAnalysis.dsirWeights(d, d.filter(col("lang") === "en"),
            "doc_id", "text", numBuckets = 1024)
          .orderBy("id")
      },
      Some("""WITH base AS (
             |  SELECT cast(doc_id AS varchar) AS id, lang,
             |         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
             |                     t -> length(t) >= 1) AS l
             |  FROM documents),
             |f AS (
             |  SELECT id, lang, l[i] AS f
             |  FROM (SELECT id, lang, l, unnest(range(1, len(l) + 1)) AS i FROM base)
             |  UNION ALL
             |  SELECT id, lang, l[i] || ' ' || l[i+1]
             |  FROM (SELECT id, lang, l, unnest(range(1, len(l))) AS i FROM base)),
             |cf AS (SELECT id, lang,
             |              ('0x'||substr(md5(f), 1, 15))::bigint % 1024 AS bkt
             |       FROM f),
             |rc AS (SELECT bkt, count(*) AS rc FROM cf GROUP BY 1),
             |tc AS (SELECT bkt, count(*) AS tc FROM cf WHERE lang = 'en' GROUP BY 1),
             |tot AS (SELECT (SELECT count(*) FROM cf) AS rt,
             |               (SELECT count(*) FROM cf WHERE lang = 'en') AS tt)
             |SELECT id, count(*) AS n_feats,
             |       floor((avg(ln((coalesce(tc, 0) + 1.0) / (tt + 1024.0))
             |                  - ln((rc + 1.0) / (rt + 1024.0)))) * 1e6 + 0.5) / 1e6 AS dsir_e6
             |FROM cf JOIN rc USING (bkt) LEFT JOIN tc USING (bkt) CROSS JOIN tot
             |GROUP BY id ORDER BY id""".stripMargin),
      api = "TextAnalysis.dsirWeights",
      desc = "DSIR importance weights: hashed n-gram feature log-ratios target vs raw — one agg per side + broadcast ratio table.",
      auditAllow = Some("one-row model-totals crossJoin(broadcast) into the bucket-bounded LLR join")),

    "tx_repetition" -> QueryDef(
      (s, dir) => TextAnalysis.repetitionSignals(table(s, dir, "documents"))
        .orderBy("doc_id"),
      Some(
        """WITH stats AS (
          |  SELECT doc_id, toks, len(toks) AS m,
          |         len(list_distinct(toks)) AS m_distinct,
          |         list_sum(list_transform(toks, t -> length(t)))::bigint AS total_chars
          |  FROM (SELECT doc_id,
          |          regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          |        FROM documents)),
          |grams AS (
          |  SELECT doc_id, total_chars, m, m_distinct, 2 AS n,
          |         unnest(CASE WHEN m >= 2
          |           THEN list_transform(range(1, m), i -> toks[i] || ' ' || toks[i+1])
          |           ELSE [] END) AS gram
          |  FROM stats
          |  UNION ALL
          |  SELECT doc_id, total_chars, m, m_distinct, 3 AS n,
          |         unnest(CASE WHEN m >= 3
          |           THEN list_transform(range(1, m-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          |           ELSE [] END) AS gram
          |  FROM stats),
          |counts AS (
          |  SELECT doc_id, total_chars, m, m_distinct, n, gram, count(*) AS c
          |  FROM grams GROUP BY ALL),
          |top2 AS (
          |  SELECT doc_id, gram AS top_bigram, c AS top_c FROM (
          |    SELECT doc_id, gram, c,
          |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
          |    FROM counts WHERE n = 2) WHERE rn = 1),
          |dup3 AS (
          |  SELECT doc_id,
          |         coalesce(sum(CASE WHEN c >= 2 THEN c * (length(gram) - 2) END), 0)::bigint AS dup3_chars
          |  FROM counts WHERE n = 3 GROUP BY doc_id)
          |SELECT s.doc_id,
          |  floor(((m - m_distinct)::double / m) * 1e6)::bigint AS dup_token_frac_e6,
          |  top_bigram,
          |  floor((top_c * (length(top_bigram) - 1))::double / total_chars * 1e6)::bigint AS top_bigram_frac_e6,
          |  floor(dup3_chars::double / total_chars * 1e6)::bigint AS dup_trigram_frac_e6
          |FROM (SELECT DISTINCT doc_id, total_chars, m, m_distinct FROM stats) s
          |JOIN top2 USING (doc_id) JOIN dup3 USING (doc_id)
          |ORDER BY doc_id""".stripMargin),
      api = "TextAnalysis.repetitionSignals",
      desc = "Repetition signals (dup line/paragraph/n-gram fractions) — the Gopher-style gates, row-local."),

    // ---- Unicode NFC normalization (codegen'd JDK Normalizer) ------------
    // the corpus-prep identity step: composed and decomposed encodings of
    // the same text must hash identically before any dedup/fingerprint
    // work. The framing appends a composed suffix to even ids and its
    // DECOMPOSED equivalent to odd ids; after NFC the md5s collapse per
    // parity pair while raw lengths differ — DuckDB's nfc_normalize is
    // the oracle.
    "tx_nfc_normalize" -> QueryDef(
      (s, dir) => {
        val suffix = when(col("doc_id") % 2 === 0, lit(" caf\u00e9"))
          .otherwise(lit(" cafe\u0301"))
        val raw = concat(coalesce(col("text"), lit("")), suffix)
        val norm = org.apache.spark.sql.graft.TextOps.normalize(raw)
        table(s, dir, "documents").select(col("doc_id"),
            length(raw).cast("long").as("len_raw"),
            length(norm).cast("long").as("len_nfc"),
            (raw =!= norm).as("changed"),
            md5(norm).as("nfc_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH raws AS (
             |  SELECT doc_id, coalesce(text, '') ||
             |         CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233)
             |              ELSE ' cafe' || chr(769) END AS raw
             |  FROM documents)
             |SELECT doc_id, length(raw)::bigint AS len_raw,
             |       length(nfc_normalize(raw))::bigint AS len_nfc,
             |       raw <> nfc_normalize(raw) AS changed,
             |       md5(nfc_normalize(raw)) AS nfc_md5
             |FROM raws ORDER BY doc_id""".stripMargin),
      api = "TextOps.normalize",
      desc = "Unicode NFC normalization via a codegen'd JDK-Normalizer expression (SQL: graft_normalize) — composed/decomposed encodings hash identically after it; DuckDB nfc_normalize oracle."),

    "tx_fingerprint" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(Text.tokenize(col("text"))).as("fp"))
        .orderBy("doc_id"),
      Some {
        val stop = Text.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        s"""SELECT doc_id,
           |  list_reduce(
           |    list_prepend(0::bigint,
           |      list_transform(
           |        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           |                    t -> length(t) >= 3 AND NOT list_contains($stop, t)),
           |        t -> ('0x'||substr(md5(t), 1, 15))::bigint)),
           |    (acc, h) -> (acc * 31 + h) % ${TextAnalysis.FingerprintMod}) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      api = "TextAnalysis.fingerprint",
      desc = "Rolling-hash document fingerprint over token windows — the winnowing primitive."),

    // ---- winnowing fingerprints (MOSS; Schleimer et al. SIGMOD 2003) ----
    // char-8-gram hashes, window 4, min-with-rightmost-tie selection; the
    // tie rule is encoded arithmetically (h·2²⁰ + (2²⁰−1−pos)) so both
    // engines resolve it in pure integer arithmetic. Guarantees any
    // shared substring of ≥ 11 normalized chars shares a fingerprint.
    "tx_winnow" -> QueryDef(
      (s, dir) => TextAnalysis.winnow(table(s, dir, "documents"))
        .orderBy("doc_id"),
      // Position expansion is length-driven (unnest of a scalar range) —
      // no silent document-length cap; the ONLY truncation is the shared
      // WinnowPosMask + k contract bound, applied identically in Spark.
      Some(s"""WITH norm AS (
             |  SELECT doc_id,
             |         substr(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]', '', 'g'),
             |                1, ${TextAnalysis.WinnowPosMask + 8}) AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, i - 1 AS pos,
             |         ('0x'||substr(md5(substr(t, i, 8)), 1, 10))::bigint AS h
             |  FROM (SELECT doc_id, t,
             |          unnest(range(1, length(t) - 6)) AS i FROM norm)),
             |keyed AS (
             |  SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS key FROM grams),
             |sel AS (
             |  SELECT doc_id, pos,
             |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
             |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
             |  FROM keyed),
             |fp AS (
             |  SELECT DISTINCT doc_id, sel // 1048576 AS h,
             |         1048575 - sel % 1048576 AS fp_pos
             |  FROM sel WHERE pos >= 3)
             |SELECT doc_id, count(*) AS n_fp, sum(h)::bigint AS fp_sum
             |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      api = "TextAnalysis.winnow",
      desc = "Winnowing fingerprint selection: per-doc min-hash windows (never a global window), position-bounded."),

    // ---- winnowing-fingerprint near-dup pairs ----------------------------
    // ordered-substring overlap: a shared fingerprint witnesses a shared
    // contiguous ≥8-char normalized run; pairs sharing ≥ 5 such runs.
    "tx_winnow_pairs" -> QueryDef(
      (s, dir) => TextAnalysis.winnowPairs(
          table(s, dir, "documents"), minShared = 5)
        .orderBy("id_a", "id_b"),
      Some(s"""$winnowFpSql,
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
             |  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, shared FROM p WHERE shared >= 5
             |ORDER BY id_a, id_b""".stripMargin),
      api = "TextAnalysis.winnowPairs",
      desc = "Cross-doc winnow fingerprint matches: equi-join on selected fingerprints, lag-dedup reusing the min-window sort."),

    // ---- capped variant: the 100×-scale lever itself, hash-checked -------
    // maxHashDocs = 32 drops every fingerprint hash held by more than 32
    // documents BEFORE the equi-join (the boilerplate guard — at sf0.01
    // this prunes ~120 hot hashes, ~1% of the hash vocabulary, so the cap
    // path is genuinely exercised, not a no-op). The oracle folds the
    // IDENTICAL cap rule (df > 32 on the per-doc-distinct fingerprint
    // table) into the same join — the dd_minhash_neardup cap pattern.
    "tx_winnow_pairs_capped" -> QueryDef(
      (s, dir) => TextAnalysis.winnowPairs(
          table(s, dir, "documents"), minShared = 5, maxHashDocs = 32)
        .orderBy("id_a", "id_b"),
      Some(s"""$winnowFpSql,
             |hot AS (SELECT h FROM fp GROUP BY h HAVING count(*) > 32),
             |fpc AS (SELECT doc_id, h FROM fp ANTI JOIN hot USING (h)),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
             |  FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, shared FROM p WHERE shared >= 5
             |ORDER BY id_a, id_b""".stripMargin),
      api = "TextAnalysis.winnowPairs",
      desc = "winnowPairs with the hot-fingerprint cap ENGAGED (maxHashDocs) and folded into the oracle — the boilerplate-skew lever, hash-verified."),

    // ---- vocabulary growth curve (Heaps' law observable) -----------------
    "tx_vocab_growth" -> QueryDef(
      (s, dir) => TextAnalysis.vocabGrowth(table(s, dir, "documents"))
        .orderBy("decile"),
      Some(s"""WITH bounds AS (
              |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
              |cp AS (
              |  SELECT i::int AS decile,
              |         lo + ceil((hi - lo + 1) * i / 10)::bigint AS thr
              |  FROM bounds, range(1, 11) r(i)),
              |firsts AS (
              |  SELECT key, min(id) AS first_id
              |  FROM (${QueryDef.duckTokens("doc_id", "text", "documents")})
              |  GROUP BY key),
              |v AS (
              |  SELECT decile, thr, count(*) AS vocab
              |  FROM firsts, cp WHERE first_id < thr GROUP BY 1, 2),
              |d AS (
              |  SELECT decile, count(*) AS n_docs
              |  FROM documents, cp WHERE doc_id < thr GROUP BY 1)
              |SELECT decile, n_docs, vocab
              |FROM v JOIN d USING (decile) ORDER BY decile""".stripMargin),
      api = "TextAnalysis.vocabGrowth",
      desc = "Heaps-law vocabulary growth curve: distinct vocab at doc-count checkpoints in one pass.",
      auditAllow = Some("10-row checkpoint table crossJoin(broadcast) into the vocab-keyed rollup (TextAnalysis.vocabGrowth)")),

    // ---- F1: Punkt abbreviation learning (Kiss & Strunk 2006) -----------
    // Closed-form fixture (the documents table carries no periods): 200
    // tokens, 20 period-final → p1 = 0.1 exactly, and every candidate's
    // LLR is hand-computable. Expected classification, pinned by hand in
    // DedupSpec: dr (5/0 → 3.102608) and u.s (4/0, two periods →
    // 4.964173) are abbreviations; vs (2/1 → 0.011539), cat (1/20,
    // ll < 0) and end (8/30, ll < 0 — the sentence-ender also appears
    // mid-sentence, Punkt's own negative case) are not. The quote/paren
    // tokens ("dr.", (the)) make the punctuation-strip rule load-bearing
    // in the hash. The oracle recomputes the whole criterion — the
    // Dunning LLR, all three factors, the threshold — independently in
    // SQL.
    "tx_punkt_learn" -> QueryDef(
      (s, dir) => {
        val corpus = s.range(0, 6).select(col("id"),
          when(col("id") === 0, "dr. dr. dr. dr. \"dr.\"")
            .when(col("id") === 1, concat_ws(" ", Seq.fill(4)(lit("u.s.")): _*))
            .when(col("id") === 2, "vs. vs. vs")
            .when(col("id") === 3,
              concat(lit("cat. "), concat_ws(" ", Seq.fill(20)(lit("cat")): _*)))
            .when(col("id") === 4, concat(
              concat_ws(" ", Seq.fill(8)(lit("end.")): _*), lit(" "),
              concat_ws(" ", Seq.fill(30)(lit("end")): _*)))
            .otherwise(concat(
              concat_ws(" ", Seq.fill(128)(lit("the")): _*), lit(" (the)")))
            .as("text"))
        TextAnalysis.punktLearnAbbrevs(corpus)
      },
      Some("""WITH corpus(text) AS (
             |  SELECT 'dr. dr. dr. dr. "dr."'
             |  UNION ALL SELECT trim(repeat('u.s. ', 4))
             |  UNION ALL SELECT 'vs. vs. vs'
             |  UNION ALL SELECT 'cat. ' || trim(repeat('cat ', 20))
             |  UNION ALL SELECT trim(repeat('end. ', 8)) || ' ' || trim(repeat('end ', 30))
             |  UNION ALL SELECT trim(repeat('the ', 128)) || ' (the)'),
             |toks AS (
             |  SELECT tok FROM (
             |    SELECT regexp_replace(lower(t), '^[^a-z0-9.]+|[^a-z0-9.]+$', '', 'g') AS tok
             |    FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS t FROM corpus))
             |  WHERE length(tok) > 0),
             |totals AS (
             |  SELECT count(*)::double AS n_tokens,
             |         sum(CASE WHEN tok LIKE '%.' THEN 1 ELSE 0 END)::double AS n_period
             |  FROM toks),
             |counts AS (
             |  SELECT token, sum(wp)::bigint AS c_period,
             |         (count(*) - sum(wp))::bigint AS c_plain
             |  FROM (SELECT CASE WHEN tok LIKE '%.'
             |                    THEN substr(tok, 1, length(tok) - 1)
             |                    ELSE tok END AS token,
             |               CASE WHEN tok LIKE '%.' THEN 1 ELSE 0 END AS wp
             |        FROM toks)
             |  WHERE length(token) > 0
             |  GROUP BY token
             |  HAVING sum(wp) >= 1 AND regexp_matches(token, '[a-z]')),
             |scored AS (
             |  SELECT token, c_period, c_plain,
             |    (-2.0 * ((c_period * ln(n_period / n_tokens)
             |              + c_plain * ln(1.0 - n_period / n_tokens))
             |             - (c_period * ln(0.99) + c_plain * ln(0.01))))
             |      * exp(-length(replace(token, '.', '')))
             |      * (length(token) - length(replace(token, '.', '')) + 1)
             |      * power(length(replace(token, '.', '')), -c_plain) AS s
             |  FROM counts, totals)
             |SELECT token, c_period, c_plain,
             |       floor(s * 1e6 + 0.5) / 1e6 AS score,
             |       s >= 0.3 AS is_abbrev
             |FROM scored ORDER BY token""".stripMargin),
      api = "TextAnalysis.punktLearnAbbrevs",
      desc = "Punkt abbreviation LEARNING (Kiss & Strunk LLR + the three published factors) as one type-keyed aggregate + one-row totals broadcast; survivors feed the nltk splitter's extraAbbrevs seam (--abbrev-learn).",
      auditAllow = Some("one-row corpus-totals crossJoin(broadcast) into the vocabulary-sized candidate table (TextAnalysis.punktLearnAbbrevs)"))
  )
}
