package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.CacheScope

/** Fixed-iteration PageRank over an arc list — the standard importance
  * measure for entity graphs (Page et al. 1999), complementing the
  * degree/frequency importances in [[Relational]] (A4/A5). Declarative
  * power iteration: every round is one arcs⋈ranks keyed equi-join plus a
  * partial-agg sum — the GraphX/Pregel dataflow re-expressed as Catalyst
  * plans, so AQE handles skew and the oracle can replay it as SQL.
  *
  * `arcs` must contain both directions if the graph is undirected; with
  * that construction every node with an edge has out-degree ≥ 1, so
  * there is no dangling-mass correction term (documented contract —
  * callers with genuinely directed graphs must add the dangling term
  * themselves).
  *
  * 100 TB shape: the degree-annotated arc table is persisted in its
  * hash(src) layout across the (fixed, small) iteration count and
  * released through [[graft.core.CacheScope]] once the result is
  * sealed — the [[graft.dedup.Dedup]] components pattern. All joins are
  * keyed by node id; the only broadcast is the one-row node count.
  * Ranks are node-sized.
  */
object PageRank {

  /** @param arcs (src, dst) arc list
    * @return (node, r) — r the PageRank after `iterations` rounds from a
    *         uniform start, damping `d`: r(v) = (1−d)/N + d·Σ r(u)/deg(u).
    */
  def pageRank(arcs: DataFrame, iterations: Int,
      damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The (src, dst, dg) contribution table is loop-INVARIANT, and the
    // out-degree is derivable in the SAME pass that lays the arc table
    // out by src: one window count over hash(src) partitioning replaces
    // the old groupBy→join→repartition chain (three arc-sized exchanges
    // → one exchange + a per-partition sort; guide §2.4). The cached
    // frame keeps hash(src) partitioning, so every iteration's join
    // exchanges only the node-sized rank table against the cached
    // layout — the big side moves exactly one time however many
    // iterations run, which is the shuffle-once idiom that matters at
    // 100 TB. (The per-round contribution keeps the r/dg division form —
    // same operations as the SQL oracle's replay, no reciprocal-multiply
    // drift.)
    val contrib = arcs.select(col("src"), col("dst"))
      .withColumn("dg", count(lit(1)).over(Window.partitionBy("src")))
      .persist()
    // deg rides the cached hash(src) layout: groupBy(src) over it plans
    // WITHOUT an exchange, and every dg value in a group is identical,
    // so first() is deterministic-by-value. NOT persisted: the one-row
    // nDf broadcast subtrees are identical across iterations, so runtime
    // exchange reuse collapses them (an A/B persist REGRESSED tasks
    // 524 → 588 — the cache pins 32 splits per reference, the repo's
    // r18 reuse lesson).
    val deg = contrib.groupBy("src").agg(first(col("dg")).as("dg"))
    val nDf = deg.agg(count(lit(1)).as("n"))
    var r = deg.crossJoin(broadcast(nDf))
      .select(col("src").as("node"), (lit(1.0) / col("n")).as("r"))
    for (_ <- 1 to iterations) {
      val m = contrib
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("r") / col("dg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("m"))
      r = m.crossJoin(broadcast(nDf))
        .select(col("node"),
          (lit(1.0 - damping) / col("n") + lit(damping) * col("m")).as("r"))
    }
    CacheScope.seal(r, contrib)
  }

  /** Synchronous label-propagation community detection (Raghavan, Albert
    * & Kumara 2007, Phys. Rev. E 76): every node starts as its own
    * community; each round it adopts the most frequent label among its
    * neighbors AND itself. The self-vote is load-bearing — but as a
    * LATER-ROUND stabilizer, not a first-round guard: round 1 is all
    * ties either way and the lexicographic tie-break still leaks small
    * labels across bridges; with the self-vote a dense neighborhood's
    * own labels out-count the leaked one in subsequent rounds and the
    * community RECOVERS, whereas without it the flood is absorbing and
    * the operator degenerates into min-label propagation (= connected
    * components; verified by simulation and the bridged-cliques spec).
    * Ties broken by the
    * LEXICOGRAPHICALLY SMALLEST label — fully deterministic, so a fixed
    * iteration count is SQL-replayable (async/randomized LPA variants
    * trade that determinism for faster convergence; the fixed-round
    * synchronous form is the oracle-able one, and oscillation on
    * bipartite structures is likewise deterministic). Same arc contract
    * as [[pageRank]]: both directions present for undirected graphs;
    * nodes appear iff they have an edge.
    *
    * 100 TB shape: one round = an arc⋈label equi-join (arcs
    * hash-partitioned by dst ONCE, persisted — only the node-sized label
    * table moves per round) + a (src, label) count + a per-src min_by
    * argmax (both with map-side partial aggregation; no per-round sort);
    * labels are localCheckpoint'd per round so the plan stays
    * flat, and every round's checkpoint is freed once the output is
    * sealed. Everything is keyed by node id; communities are never
    * collected.
    *
    * Output: (node, community). */
  def labelPropagation(arcs: DataFrame, iterations: Int): DataFrame = {
    val a = arcs.select(col("src"), col("dst"))
      .repartition(col("dst")).persist()
    var labels = a.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to iterations) {
      val votes = a.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src"), col("label"))
        .unionByName(labels.select(col("node").as("src"), col("label")))
      val counts = votes.groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("c"))
      // max-count label, min-label tie-break, as ONE aggregate instead of
      // the row_number() window: min_by over the (−c, label) struct is
      // the same (c DESC, label ASC) order, but it partial-aggregates
      // map-side and never sorts the full vote-count table (guide §2.3
      // aggregate-before-you-shuffle; the window paid exchange + full
      // sort per round). The ordering struct is unique per group — label
      // is a grouping key, so (−c, label) never ties and min_by's
      // nondeterministic-tie hazard never engages.
      labels = counts
        .groupBy("src")
        .agg(min_by(col("label"),
          struct((-col("c")).as("_nc"), col("label").as("_lb"))).as("label"))
        .select(col("src").as("node"), col("label"))
        .localCheckpoint(eager = false)
      rounds += labels
    }
    CacheScope.seal(labels.select(col("node"), col("label").as("community")),
      (a +: rounds.toSeq): _*)
  }
}
