package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Graph analytics beyond connected components: PageRank over the
  * symmetrized customer–supplier interaction graph. Iterative
  * rank-propagation is the canonical "joins as message passing"
  * workload — every round is one join (ranks → edges) + one aggregate
  * (sum incoming), both hashed on the node key, so rounds co-locate
  * and the graph never leaves its partitioning.
  *
  * Determinism: ranks live in integer micro-units (S = 1e12 total
  * mass) and every step is floor division on positive integers —
  * `r div deg` per-edge contribution, `(15·base + 85·Σin) div 100`
  * damping — so Spark and DuckDB agree bit-for-bit with no float
  * summation-order hazard. The undirected (symmetrized) edge set
  * guarantees degree ≥ 1 everywhere: no dangling-mass redistribution
  * term is needed.
  *
  * Scale: edges are built once and localCheckpoint'ed (every round
  * re-reads them); 3 unrolled rounds keep the lazy lineage linear.
  * At 100 TB the same shape holds — shuffle ∝ |edges| per round, state
  * ∝ |nodes|, rounds sequential as in any PageRank.
  */
object GraphQueries {

  /** Total rank mass in micro-units. */
  private val S = 1000000000000L

  /** The ≥2-support co-purchase edge set shared by q_triangles /
    * q_kcore / q_bfs_hops (previously triplicated inline). r15 shape:
    * ONE exchange by order key serves the whole build — spreadByKey's
    * hash(ok) partitioning satisfies the (ok, pk) distinct (subset
    * rule), and both self-join sides read the SAME exchange
    * (ReuseExchange) with the join's ok distribution already satisfied
    * — so the wedge generation runs with no further shuffle until the
    * (u, v) support count. It also lifts the distinct's partial
    * aggregate out of the single-split lineitem scan task.
    */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val so = graft.operators.spreadByKey(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
        col("ok"))
      .distinct()
    so.as("a")
      .join(so.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("u"), col("v"))
  }

  /** HITS total score mass: 10⁹ keeps every scaled product ar·S ≤
    * S² = 10¹⁸ inside int64 unconditionally (see [[hitsScores]]).
    */
  private val HitsS = 1000000000L

  val queries: Map[String, Q] = Map(
    "q_pagerank" -> ((s, d) => {
      // r15: LONG node ids through the iteration (customer 2k,
      // supplier 2k+1 — injective, disjoint), strings only in the
      // final projection: three rounds of join+aggregate hash and
      // shuffle 8-byte keys instead of "c…"/"s…" UTF8 (guide §2.3).
      // spreadByKey parallelizes the broadcast-join probe + partial
      // distinct otherwise pinned to the single-split lineitem scan.
      val li = graft.operators.spreadByKey(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey"))
      val raw = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // repartition BEFORE the checkpoint: LogicalRDD preserves the
      // physical partitioning, so every round's ranks→edges join reuses
      // it instead of re-exchanging |edges| rows 3×.
      // r15: the SOURCE out-degree rides the edge row (one build-time
      // join, materialized into the checkpoint) — the per-edge
      // contribution r div deg then needs only (node, r) from the
      // previous round, which removes the carry-forward join AND the
      // per-round localCheckpoint: rank feeds exactly ONE consumer per
      // round, so the lazy lineage grows linearly (the old exponential
      // two-consumer hazard is gone) and one action evaluates all
      // three rounds. Per round: one broadcast-eligible join + one
      // dst-keyed aggregate — half the old round topology.
      val sc0 = s.sparkContext
      val beforeEdges = sc0.getPersistentRDDs.keySet
      val edges0 = raw
        .union(raw.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
      val deg0 = edges0.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      val edges = edges0
        .join(deg0, col("src") === col("node")).drop("node")
        .localCheckpoint()
      val edgeRdds = (sc0.getPersistentRDDs -- beforeEdges).values.map { r =>
        r.setName("graft.pagerank edges"); r
      }
      // uniform start mass as a PLAN CONSTANT: the damping base
      // S div |nodes| is the same literal in every round, so one eager
      // 1-row action here replaces a 1-row broadcast + nested-loop
      // join per round (4 of them incl. init) — the globalRank
      // eager-boundaries rationale; the value is exact, not a sketch.
      // |nodes| = distinct src of the symmetrized edges (degree ≥ 1
      // everywhere), read off the checkpointed edge set.
      val nodes = edges.select(col("src")).distinct().count()
      val base = if (nodes == 0) 0L else S / nodes // 0-node guard: empty slice, empty result
      var rank = edges.select(col("src").as("node")).distinct()
        .select(col("node"), lit(base).as("r"))
      for (round <- 1 to 3) {
        val contrib = edges
          .join(rank, col("src") === col("node"))
          .select(col("dst"), expr("r div deg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("ins"))
        rank = contrib.select(col("dst").as("node"),
          expr(s"(15 * ${base}L + 85 * ins) div 100").as("r"))
      }
      // materialize the final ranks, then release the edge set — the
      // returned frame reads only this checkpoint
      val result = rank.select(col("node"), col("r").as("pr")).localCheckpoint()
      edgeRdds.foreach(_.unpersist(blocking = false))
      // long ids → the catalog's "c…"/"s…" node strings, one cheap
      // projection over the |nodes|-sized checkpoint (r15)
      result.select(
        when(col("node") % 2 === 0,
          concat(lit("c"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2"))).as("node"),
        col("pr"))
    }),

    // Triangle count over the recurring co-purchase graph: parts that
    // co-occur in ≥2 distinct orders. The support threshold is the
    // density control every co-occurrence graph needs (the raw co-order
    // graph on a small key domain is near-complete — all-pairs wedges
    // would explode); the surviving graph is sparse at every SF.
    //
    // Counting uses DEGREE-ORDERED ORIENTATION: each undirected edge
    // points from its (deg, id)-smaller endpoint, every triangle is
    // counted exactly once as src→b, src→c, b→c with (db,b) < (dc,c),
    // and a node's out-wedges are bounded by O(√m) out-degree — the
    // standard bound that keeps the wedge join m^{3/2} instead of Σd².
    // Wedge closure and wedge count share ONE pass (left join + count
    // of matches). All integer counts — engine-exact.
    //
    // Scale: shuffles are keyed by order (pair gen), pair (support
    // count), node (degree join), src (wedge join), (b,c) (closure) —
    // all linear in their inputs; the oriented edge set is
    // localCheckpoint'ed once because three joins read it. At 100 TB
    // the wedge frame would be checkpointed too before closure.
    "q_triangles" -> ((s, d) => {
      val und = coPurchaseEdges(s, d)
      triangleStats(und)
    }),

    // k-core peeling (k=3, 3 rounds) over the same co-purchase graph:
    // the graph-density curation primitive (nodes outside the k-core
    // are weakly-connected periphery — the graph analogue of a quality
    // cut). Each round: degree count (one union + one node-keyed
    // aggregate), threshold, and a two-sided semi-join that drops edges
    // touching peeled nodes. FIXED rounds, converging from above —
    // true-core fixpoint iteration has data-dependent depth; 3 rounds
    // is the bounded-latency contract (at sf0.01 the survivor set is
    // within ~1.6% of the fixpoint by round 3), exactly like the
    // unrolled PageRank above. Output: surviving nodes with their
    // round-3 degree.
    //
    // Scale: shuffles are keyed by node (degree agg) and by u / v (the
    // semi-joins) — all ∝ current |edges|, which only shrinks; each
    // round's edge set is localCheckpoint'ed (degree reads it twice,
    // the next round again — uncheckpointed, round r would recompute
    // every earlier round ~2^r times) and released as soon as the next
    // round's set materializes, so resident state is O(|edges|), not
    // O(rounds · |edges|).
    "q_kcore" -> ((s, d) => {
      val und = coPurchaseEdges(s, d)
      kcorePeel(s, und, k = 3, rounds = 3)
    }),

    // Multi-source BFS hop distance (≤ 3 hops) from a deterministic
    // seed set over the same co-purchase graph: the reachability /
    // shortest-unweighted-path primitive the graph tier was missing
    // (CC answers "same component?", this answers "how far?" — the
    // blast-radius question every lineage / contamination-spread audit
    // asks). Each round is one frontier→edges hash join + one anti-join
    // against the visited set — shuffle ∝ frontier-adjacent edges, not
    // the whole graph — with the same per-round localCheckpoint/release
    // discipline as PageRank. FIXED rounds (bounded latency), so the
    // output is exact hop distance for every node within 3 hops.
    "q_bfs_hops" -> ((s, d) => {
      val und = coPurchaseEdges(s, d)
      bfsHops(s, und, seedPred = col("node") % 97 === 0, rounds = 3)
    }),

    // HITS hubs & authorities (2 unrolled rounds) on the directed
    // customer→supplier purchase graph: the MUTUALLY-recursive
    // iteration PageRank doesn't exercise (two score families, each
    // round reads the other's normalized output). Hubs = customers
    // whose purchases concentrate on authoritative suppliers;
    // authorities = suppliers bought by strong hubs.
    "q_hits" -> ((s, d) => {
      // r15: LONG keys through the iteration, strings only in the final
      // projection — every per-round join/aggregate hashes and shuffles
      // 8-byte keys instead of "c…"/"s…" UTF8 (guide §2.3 narrower
      // types; the bipartite sides never mix, so the raw keys are
      // already injective). spreadByKey parallelizes the broadcast-join
      // probe + partial distinct that otherwise run inside the
      // single-split lineitem scan task.
      // r16: the (c, s) distinct moved INTO hitsScores, where it runs on
      // the edge checkpoint's own hash(c) exchange under the subset rule
      // — the standalone hash(c, s) distinct exchange here paid a full
      // extra |edges| shuffle + barrier (guide §2.4).
      val li = graft.operators.spreadByKey(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey"))
      val raw = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      hitsScores(s, raw, rounds = 2)
        .select(col("kind"),
          concat(when(col("kind") === "hub", lit("c")).otherwise(lit("s")),
            col("node")).as("node"),
          col("score"))
    })
  )

  /** `rounds` peeling rounds toward the k-core of an undirected simple
    * graph given as (u, v) edge rows, each edge once. Returns surviving
    * nodes with their final-round degree (see q_kcore above for the
    * algorithm, the fixed-round contract, and the checkpoint-release
    * discipline). Exposed for direct testing on known graphs.
    */
  def kcorePeel(s: org.apache.spark.sql.SparkSession, und: DataFrame,
      k: Int, rounds: Int): DataFrame = {
    val sc = s.sparkContext
    var prevRdds: Iterable[org.apache.spark.rdd.RDD[_]] = Nil
    def snap(df: DataFrame, name: String): DataFrame = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint()
      val newRdds = (sc.getPersistentRDDs -- before).values.map { r =>
        r.setName(name); r
      }
      prevRdds.foreach(_.unpersist(blocking = false))
      prevRdds = newRdds
      out
    }
    var edges = snap(und.repartition(col("u")), "graft.kcore edges round 0")
    var result: DataFrame = null
    for (round <- 1 to rounds) {
      val deg = edges.select(col("u").as("x"))
        .union(edges.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("dx"))
      val keep = deg.filter(col("dx") >= k)
      if (round == rounds)
        result = snap(keep.select(col("x").as("node"), col("dx").as("deg")),
          "graft.kcore result")
      else
        edges = snap(edges
          .join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("x").as("v")), Seq("v"), "left_semi"),
          s"graft.kcore edges round $round")
    }
    result
  }

  /** Multi-source BFS over an undirected simple graph given as (u, v)
    * edge rows, each edge once: returns (node, hop) for every node
    * within `rounds` hops of the seed set, hop = exact unweighted
    * shortest distance. Seeds are the graph nodes satisfying `seedPred`
    * (over a `node` column) at hop 0.
    *
    * Round r: frontier (hop r−1 rows of the visited checkpoint) joins
    * the symmetrized edge set (hashed on u — built once, checkpointed,
    * reused every round), distinct neighbors, anti-join against
    * visited. Both shuffles are keyed by node and sized by the frontier
    * adjacency, not the graph. The visited set is re-checkpointed per
    * round (it feeds the next round's frontier filter AND anti-join —
    * uncheckpointed, round r would re-expand all earlier rounds) and
    * the previous round's blocks released, so resident state is
    * O(|visited| + |edges|). At 100 TB: identical shape — BFS is
    * |frontier-edges| shuffle per round, the textbook Pregel iteration
    * expressed as joins.
    */
  def bfsHops(s: org.apache.spark.sql.SparkSession, und: DataFrame,
      seedPred: org.apache.spark.sql.Column, rounds: Int): DataFrame = {
    import graft.core.CacheScope.trackedCheckpoint
    val (edges, edgeRdds) = trackedCheckpoint(
      und.select(col("u"), col("v"))
        .union(und.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u")),
      "graft.bfs edges")
    val seeds = edges.select(col("u").as("node")).distinct()
      .filter(seedPred)
    var (visited, prevRdds) = trackedCheckpoint(
      seeds.select(col("node"), lit(0L).as("hop")), "graft.bfs round 0")
    for (r <- 1 to rounds) {
      val frontier = visited.filter(col("hop") === (r - 1))
      val nbrs = edges
        .join(frontier.select(col("node").as("u")), Seq("u"))
        .select(col("v").as("node")).distinct()
      val novel = nbrs.join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("hop"))
      val (nv, nvRdds) = trackedCheckpoint(visited.union(novel),
        s"graft.bfs round $r")
      prevRdds.foreach(_.unpersist(blocking = false))
      prevRdds = nvRdds
      visited = nv
    }
    edgeRdds.foreach(_.unpersist(blocking = false))
    visited
  }

  /** HITS over a directed bipartite edge set (c, s), each edge once:
    * `rounds` iterations of auth(s) = Σ hub(c) over in-edges and
    * hub(c) = Σ auth(s) over out-edges, each re-normalized to total
    * mass [[HitsS]] by integer floor division (the L1 analogue of the
    * classic L2 step — scale-free up to floor loss, and engine-exact
    * where sqrt normalization could never be). Output: one row per
    * node, (kind ∈ {hub, auth}, node, score) after the final round.
    *
    * Input edge multiplicity is ignored: each distinct (c, s) pair
    * counts once, however many times it appears in `edges0` (the dedup
    * runs inside, on the edge checkpoint), so a multiplicity-weighted
    * HITS cannot be expressed by repeating edges.
    *
    * Overflow safety is UNCONDITIONAL on graph shape: each raw score
    * is a sum of normalized scores, so ar ≤ S and the scaled product
    * ar·S ≤ S² = 10¹⁸ < int64 max; the normalizer t = Σ ar ≤
    * maxdeg·S needs maxdeg ≤ 9·10⁹ — not a practical constraint.
    *
    * Plan per round: two (edges ⋈ scores → node-keyed sum) shuffles —
    * the PageRank message-passing shape ×2 — plus two 1-row total
    * aggregates that ride broadcast crossJoins (scale-safe: no
    * single-partition window over |nodes|). Each raw-score table feeds
    * TWO subtrees (its own total and the normalize), which
    * uncached doubles per stage — 2^stages over 2·rounds stages — so
    * each is LAZILY persisted and the whole chain materializes in ONE
    * action (the eager result checkpoint), after which every cache is
    * dropped. An earlier eager-checkpoint-per-stage version paid ~10
    * sequential jobs: 5.2 → 4.3 s at sf0.1 (the remaining floor is
    * the edge build, shared with PageRank at 3.9 s). At 100 TB
    * shuffle ∝ |edges| per round, resident state ∝ |nodes| per
    * persisted stage.
    *
    * r16 round topology (the r15-verdict #1 rewrite): each normalizer
    * t used to be a 1-row aggregate OVER the raw-score table it
    * normalizes (araw → at → auth: two sequential barriers per
    * half-round). But t is degree-expressible from the PREVIOUS score
    * table alone — Σ_s ar(s) = Σ_{(c,s)∈E} h(c) = Σ_c outdeg(c)·h(c)
    * (plain integer-sum associativity, value-identical) — so `at` now
    * reads (hub ⋈ outdeg) and `ht` reads (auth ⋈ indeg): each
    * normalizer's broadcast materializes CONCURRENTLY with its
    * half-round's edge-join shuffle instead of sequentially after it,
    * halving the critical-path barriers per round. The degree tables
    * are one-off |node|-sized aggregates off the edge checkpoint
    * (outdeg exchange-free under the subset rule; indeg's hash(s)
    * exchange is map-side-combined to ≤ partitions·|S| rows) and are
    * lazily persisted like the score tables. The initial-mass base
    * HitsS div |C| also rides a 1-row broadcast crossJoin off outdeg
    * now, removing the only remaining eager driver action between the
    * edge checkpoint and the result checkpoint (2 jobs total, was 3).
    * Edge dedup happens here, ON the checkpoint's own hash(c)
    * repartition (subset rule) — callers must NOT pre-distinct.
    */
  def hitsScores(s: org.apache.spark.sql.SparkSession, edges0: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "hitsScores needs at least one round")
    import graft.core.CacheScope.trackedCheckpoint
    val (edges, edgeRdds) = trackedCheckpoint(
      edges0.select(col("c"), col("s")).repartition(col("c"))
        .dropDuplicates("c", "s"),
      "graft.hits edges")
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    // per-side degree tables: outdeg rides the checkpoint's hash(c)
    // partitioning (no exchange); indeg is the one new exchange, paid
    // once and reused by every round's ht
    val outdeg = edges.groupBy(col("c")).agg(count(lit(1)).as("dc")).persist()
    val indeg = edges.groupBy(col("s")).agg(count(lit(1)).as("ds")).persist()
    cached += outdeg
    cached += indeg
    val nc = outdeg.agg(count(lit(1)).as("n"))
    var hub: DataFrame = outdeg.crossJoin(broadcast(nc))
      .select(col("c"), expr(s"${HitsS}L div n").as("h"))
    var auth: DataFrame = null
    for (r <- 1 to rounds) {
      val at = hub.join(outdeg, Seq("c"))
        .agg(sum(col("h") * col("dc")).as("t"))
      val araw = edges.join(hub, Seq("c"))
        .groupBy(col("s")).agg(sum(col("h")).as("ar")).persist()
      cached += araw
      auth = araw.crossJoin(broadcast(at))
        .select(col("s"), expr(s"ar * ${HitsS}L div t").as("a"))
      val ht = auth.join(indeg, Seq("s"))
        .agg(sum(col("a") * col("ds")).as("t"))
      val hraw = edges.join(auth, Seq("s"))
        .groupBy(col("c")).agg(sum(col("a")).as("hr")).persist()
      cached += hraw
      hub = hraw.crossJoin(broadcast(ht))
        .select(col("c"), expr(s"hr * ${HitsS}L div t").as("h"))
    }
    // ONE materializing action evaluates the whole chain through the
    // lazy caches; then nothing upstream is needed again
    val (result, _) = trackedCheckpoint(
      auth.select(lit("auth").as("kind"), col("s").as("node"),
          col("a").as("score"))
        .unionByName(hub.select(lit("hub").as("kind"), col("c").as("node"),
          col("h").as("score"))),
      "graft.hits result")
    cached.foreach(_.unpersist(blocking = false))
    edgeRdds.foreach(_.unpersist(blocking = false))
    result
  }

  /** Degree-ordered triangle/wedge/edge counts of an undirected simple
    * graph given as (u, v) edge rows with u ≠ v, each edge once (see
    * q_triangles above for the algorithm and scale notes). Exposed for
    * direct testing on known graphs (GraphSpec).
    */
  def triangleStats(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("x"))
      .unionAll(und.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("dx"))
    val wd = und
      .join(deg.select(col("x").as("u"), col("dx").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("dx").as("dv")), Seq("v"))
    val fwd = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val sc = und.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ori = wd.select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"),
        when(fwd, col("dv")).otherwise(col("du")).as("dd"))
      .localCheckpoint()
    val oriRdds = (sc.getPersistentRDDs -- before).values.map { r =>
      r.setName("graft.triangles oriented edges"); r
    }
    val wedges = ori
      .select(col("src").as("a"), col("dst").as("b"), col("dd").as("db"))
      .join(ori.select(col("src").as("a2"), col("dst").as("c"), col("dd").as("dc")),
        col("a") === col("a2") &&
          struct(col("db"), col("b")) < struct(col("dc"), col("c")))
    val counts = wedges
      .join(ori.select(col("src").as("b2"), col("dst").as("c2")),
        col("b") === col("b2") && col("c") === col("c2"), "left")
      .agg(count(lit(1)).as("n_wedges"), count(col("b2")).as("n_triangles"))
    val result = ori.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(counts))
      .localCheckpoint()
    oriRdds.foreach(_.unpersist(blocking = false))
    result
  }

  private def bfsRound(i: Int): String =
    s"""f$i AS (
       |  SELECT DISTINCT e.v AS node
       |  FROM e JOIN v${i - 1} p ON e.u = p.node AND p.hop = ${i - 1}
       |  WHERE e.v NOT IN (SELECT node FROM v${i - 1})
       |), v$i AS (
       |  SELECT node, hop FROM v${i - 1}
       |  UNION ALL SELECT node, $i AS hop FROM f$i
       |)""".stripMargin

  private def hitsRound(i: Int): String =
    s"""a${i}r AS (
       |  SELECT s, SUM(h) AS ar FROM raw JOIN h${i - 1} USING (c) GROUP BY s
       |), a${i}t AS (SELECT SUM(ar) AS t FROM a${i}r),
       |a$i AS (
       |  SELECT s, ar * $HitsS // t AS a FROM a${i}r, a${i}t
       |), h${i}r AS (
       |  SELECT c, SUM(a) AS hr FROM raw JOIN a$i USING (s) GROUP BY c
       |), h${i}t AS (SELECT SUM(hr) AS t FROM h${i}r),
       |h$i AS (
       |  SELECT c, hr * $HitsS // t AS h FROM h${i}r, h${i}t
       |)""".stripMargin

  private def prRound(i: Int): String =
    s"""c$i AS (
       |  SELECT e.dst AS node, CAST(SUM(r.r // r.deg) AS BIGINT) AS ins
       |  FROM e JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst
       |), r$i AS (
       |  SELECT p.node, p.deg,
       |    (15 * ($S // nn.n) + 85 * c.ins) // 100 AS r
       |  FROM r${i - 1} p JOIN c$i c USING (node), nn
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_pagerank" -> {
      val rounds = (1 to 3).map(prRound).mkString(",\n")
      s"""WITH raw AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), e AS (
         |  SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
         |), deg AS (
         |  SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src
         |), nn AS (
         |  SELECT COUNT(*) AS n FROM deg
         |), r0 AS (
         |  SELECT node, deg, $S // nn.n AS r FROM deg, nn
         |),
         |$rounds
         |SELECT node, r AS pr FROM r3""".stripMargin
    },

    // Mirrors q_triangles: ≥2-support co-purchase edges, degree-ordered
    // orientation via tuple compare, one left-joined wedge pass.
    "q_triangles" ->
      """WITH so AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), und AS (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM so a JOIN so b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2
        |), deg AS (
        |  SELECT x, COUNT(*) AS dx FROM (
        |    SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) t
        |  GROUP BY x
        |), wd AS (
        |  SELECT und.u, und.v, du.dx AS du, dv.dx AS dv
        |  FROM und
        |  JOIN deg du ON du.x = und.u
        |  JOIN deg dv ON dv.x = und.v
        |), ori AS (
        |  SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS src,
        |         CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS dst,
        |         CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dd
        |  FROM wd
        |), wedge AS (
        |  SELECT o1.dst AS b, o2.dst AS c
        |  FROM ori o1 JOIN ori o2
        |    ON o1.src = o2.src AND (o1.dd, o1.dst) < (o2.dd, o2.dst)
        |)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ori) AS n_edges,
        |  CAST(COUNT(*) AS BIGINT) AS n_wedges,
        |  CAST(COUNT(e.src) AS BIGINT) AS n_triangles
        |FROM wedge w
        |LEFT JOIN ori e ON w.b = e.src AND w.c = e.dst""".stripMargin,

    // Mirrors q_hits round-for-round: directed c→s purchase edges,
    // uniform hub start, two auth/hub normalization rounds.
    "q_hits" -> {
      val rounds = (1 to 2).map(hitsRound).mkString(",\n")
      s"""WITH raw AS (
         |  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), nc AS (
         |  SELECT COUNT(DISTINCT c) AS n FROM raw
         |), h0 AS (
         |  SELECT c, $HitsS // nc.n AS h
         |  FROM (SELECT DISTINCT c FROM raw), nc
         |),
         |$rounds
         |SELECT 'auth' AS kind, s AS node, CAST(a AS BIGINT) AS score FROM a2
         |UNION ALL
         |SELECT 'hub' AS kind, c AS node, CAST(h AS BIGINT) AS score FROM h2""".stripMargin
    },

    // Mirrors q_bfs_hops round-for-round: symmetrized ≥2-support
    // co-purchase edges, seed nodes (% 97), three frontier expansions
    // each excluding already-visited nodes.
    "q_bfs_hops" -> {
      val rounds = (1 to 3).map(bfsRound).mkString(",\n")
      s"""WITH so AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |), und AS (
         |  SELECT a.pk AS u, b.pk AS v
         |  FROM so a JOIN so b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2
         |), e AS (
         |  SELECT u, v FROM und UNION ALL SELECT v, u FROM und
         |), v0 AS (
         |  SELECT DISTINCT u AS node, 0 AS hop FROM e WHERE u % 97 = 0
         |),
         |$rounds
         |SELECT node, CAST(hop AS BIGINT) AS hop FROM v3""".stripMargin
    },

    // Mirrors q_kcore round-for-round: same ≥2-support graph, three
    // degree→threshold(≥3)→edge-filter rounds, survivors with their
    // round-3 degree.
    "q_kcore" ->
      """WITH so AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), und AS (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM so a JOIN so b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2
        |), d1 AS (
        |  SELECT x, COUNT(*) AS dx FROM (
        |    SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) t
        |  GROUP BY x
        |), k1 AS (SELECT x FROM d1 WHERE dx >= 3),
        |e1 AS (
        |  SELECT u, v FROM und
        |  WHERE u IN (SELECT x FROM k1) AND v IN (SELECT x FROM k1)
        |), d2 AS (
        |  SELECT x, COUNT(*) AS dx FROM (
        |    SELECT u AS x FROM e1 UNION ALL SELECT v AS x FROM e1) t
        |  GROUP BY x
        |), k2 AS (SELECT x FROM d2 WHERE dx >= 3),
        |e2 AS (
        |  SELECT u, v FROM e1
        |  WHERE u IN (SELECT x FROM k2) AND v IN (SELECT x FROM k2)
        |), d3 AS (
        |  SELECT x, COUNT(*) AS dx FROM (
        |    SELECT u AS x FROM e2 UNION ALL SELECT v AS x FROM e2) t
        |  GROUP BY x
        |)
        |SELECT x AS node, CAST(dx AS BIGINT) AS deg
        |FROM d3 WHERE dx >= 3""".stripMargin
  )
}
