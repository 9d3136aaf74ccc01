package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Bradley-Terry preference-strength ranking — the pairwise-preference
  * analytics step of an RLHF data pipeline: given (winner, loser)
  * comparison outcomes, estimate a strength γ_i per player such that
  * P(i beats j) = γ_i/(γ_i+γ_j), via the classic minorization-
  * maximization update
  *
  *   γ_i ← W_i / Σ_j n_ij/(γ_i+γ_j)
  *
  * (W_i = total wins, n_ij = games against j), run a FIXED number of
  * unrolled rounds like the catalog's PageRank — bounded latency, and
  * every quantity in micro-units with truncating integer division, so
  * the result is bit-portable to the DuckDB oracle (no libm, no float
  * accumulation order).
  *
  * Zero-win players converge to strength 0; a floor of 1 µ-unit keeps
  * later rounds' denominators positive (and is itself mirrored).
  *
  * Scale: the aggregated pair table (|player-pairs| rows, built once
  * and checkpointed) is re-joined with the |players|-sized rating
  * table each round — shuffle ∝ |pairs| per round, the PageRank shape.
  * Rounds are sequential by nature; per-round state is released as the
  * next round materializes (same discipline as connectedComponents).
  *
  * Concurrency note: per-round checkpoint blocks are tracked by
  * set-differencing `sc.getPersistentRDDs` around the localCheckpoint
  * call (same pattern as connectedComponents). That diff assumes no
  * OTHER query is concurrently creating persistent RDDs on this
  * SparkContext — under concurrent sessions it could capture a
  * sibling's checkpoint and later unpersist the only copy of its
  * result. Fine for the sequential Verify/Bench harnesses; a
  * multi-tenant deployment should derive the round's RDD ids from the
  * checkpointed Dataset's own plan instead.
  */
object Ranking {

  private val S = 1000000L            // γ micro-units
  private val SD = 1000000000000L     // division scale (S²)

  /** matches: one row per game with `winnerCol`/`loserCol` player ids.
    * Returns (player, rating, wins, n_matches) after `rounds` MM
    * rounds from a uniform start.
    */
  def bradleyTerry(matches: DataFrame, winnerCol: String, loserCol: String,
                   rounds: Int): DataFrame = {
    require(rounds >= 1)
    val sc = matches.sparkSession.sparkContext
    val before0 = sc.getPersistentRDDs.keySet
    // directed aggregated pairs: (i, j, n games, i's wins in them) —
    // both directions, so D_i sums one join away
    val dir = matches
      .select(col(winnerCol).as("i"), col(loserCol).as("j"), lit(1L).as("w"))
      .unionByName(matches
        .select(col(loserCol).as("i"), col(winnerCol).as("j"), lit(0L).as("w")))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("wins"))
      // i-partitioned blocks make each round's first join (ratings→i)
      // exchange-free (the connectedComponents/pagerank discipline);
      // the j-side join re-keys regardless
      .repartition(col("i"))
      .localCheckpoint()
    val pairRdds = (sc.getPersistentRDDs -- before0).values

    var rating = dir.groupBy(col("i").as("player"))
      .agg(sum(col("wins")).as("wins"), sum(col("n")).as("n_matches"))
      .withColumn("r", lit(S))
    var prevRdds: Iterable[org.apache.spark.rdd.RDD[_]] = Nil
    for (round <- 1 to rounds) {
      val before = sc.getPersistentRDDs.keySet
      val snap = rating.localCheckpoint()
      val snapRdds = (sc.getPersistentRDDs -- before).values.map { r =>
        r.setName(s"graft.bradleyTerry round $round"); r
      }
      prevRdds.foreach(_.unpersist(blocking = false))
      prevRdds = snapRdds
      val ri = snap.select(col("player").as("i"), col("r").as("ri"))
      val rj = snap.select(col("player").as("j"), col("r").as("rj"))
      val denom = dir
        .join(ri, Seq("i")).join(rj, Seq("j"))
        .select(col("i"),
          expr(s"(n * ${SD}L) div (ri + rj)").as("t"))
        .groupBy(col("i")).agg(sum(col("t")).as("d"))
      rating = snap
        .join(denom, col("player") === col("i")).drop("i")
        .select(col("player"), col("wins"), col("n_matches"),
          greatest(lit(1L), expr(s"(wins * ${SD}L) div d")).as("r"))
    }
    val result = rating
      .select(col("player"), col("r").as("rating"), col("wins"), col("n_matches"))
      .localCheckpoint()
    (prevRdds ++ pairRdds).foreach(_.unpersist(blocking = false))
    result
  }

  /** Top-k rows per group: the rows of `df`, plus an int `rank`, that
    * `row_number() OVER (PARTITION BY group ORDER BY order)` keeps at
    * `rank <= k`. NULLs and NaN sort as in that window: each `order`
    * column's SortOrder places NULLs (`asc` NULLS FIRST and `desc`
    * NULLS LAST unless written otherwise; a bare column sorts `asc`),
    * and NaN is the largest double. Rows tied on every `order` column
    * take distinct ranks in an unspecified order, as under
    * row_number — end `order` with a unique column for a
    * deterministic result.
    *
    * Plan: one ObjectHashAggregate over the bounded-heap
    * [[graft.functions.TopKStruct]] (the order values, then the row as
    * payload) and a posexplode. Each map task keeps ≤ k rows per group
    * before the exchange; the final merge keeps k.
    *
    * Use it when groups run to hundreds of rows or more per k (a whole
    * corpus per query, a whole stratum per key); otherwise use the
    * window. Measured on Spark 4.1 (local[2], C1 JIT, k = 10): 3.5 s
    * here vs 7.9 s for the window at 100,000 rows per group, 8.7 vs
    * 52 s for 64 queries against a 1M-row corpus (local[4]), a tie at
    * 400-1,000 rows per group, and the window 11 % to 2× faster at
    * 5-40 rows per group. The window form also limits before its
    * exchange (Catalyst plans a partial `WindowGroupLimit`), but after
    * sorting every row of the task; on small groups that codegen'd
    * sort beats the heap's interpreted compare and row copy. The pick
    * cannot be automatic: Catalyst has no rows-per-group statistic
    * before execution.
    */
  def topKPerGroup(df: DataFrame, group: Seq[Column], order: Seq[Column],
                   k: Int): DataFrame = {
    require(!df.columns.contains("rank"), "df already has a rank column")
    val sorts = order.map(ColumnBridge.sortOrder)
    val key = sorts.zipWithIndex.map { case ((c, _, _), i) => c.as(s"o$i") }
    val row = struct(df.columns.map(c => col(s"`$c`")).toSeq: _*).as("row")
    df.groupBy(group: _*)
      .agg(graft.functions.TopKStruct.topKBy(struct(key :+ row: _*), k,
        sorts.map { case (_, dir, nulls) => (dir, nulls) }).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.row.*"), (col("pos") + 1).as("rank"))
  }

  /** Exact global rank (row_number over a TOTAL corpus order) without
    * the single-partition window trap, for UNBOUNDED key domains — the
    * range-partitioned alternative [[globalNtile]]'s guard message
    * points to when the key is too fine to bucket.
    *
    *   1. bucket boundaries = `approxQuantile` of `keyCol` at P−1
    *      evenly spaced fractions, taken EAGERLY and embedded as plan
    *      CONSTANTS. Deliberate: the bucket id feeds two reader
    *      subtrees (offsets and ranks), and an in-plan sketch could in
    *      principle evaluate differently per subtree if exchange reuse
    *      ever failed (GK merge order is scheduling-dependent) —
    *      inconsistent boundaries would corrupt ranks SILENTLY.
    *      Literal boundaries make consistency unconditional. The price
    *      is one narrow pre-pass over `keyCol` (contrast globalNtile,
    *      whose eager guard was removed: that one was advisory, this
    *      one is load-bearing);
    *   2. bucket id = count of boundaries < key (a ≤P-element array
    *      scan per row against the literal boundary array);
    *   3. within-bucket rank: window partitioned by bucket — P
    *      parallel sorts of ~|rows|/P each, never one task;
    *   4. bucket offsets: per-bucket counts → serial prefix sum over
    *      ≤ P rows (hierarchically small) → broadcast join.
    *
    * global_rank = offset + within-bucket rank. Approximation error in
    * the sketch moves only bucket SIZES (skew), never the rank values:
    * the output is exactly row_number() over (keyCol, tieCols...) for
    * any boundary choice, which is what the DuckDB oracle replays. Rows
    * sharing one key value land in one bucket, so a single dominant
    * key degrades toward one big sort task — ties are the price of
    * value-deterministic bucketing; for unique-ish keys (the intended
    * domain) buckets stay balanced. NULL keys are the caller's problem
    * (filter or coalesce first); `keyCol` must be numeric
    * (percentile_approx's domain).
    */
  def globalRank(df: DataFrame, keyCol: String, tieCols: Seq[String],
                 buckets: Int = 64): DataFrame = {
    require(buckets >= 2)
    import org.apache.spark.sql.expressions.Window
    val fracs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.stat.approxQuantile(keyCol, fracs, 0.001)
      .distinct.sorted
    val order = col(keyCol) +: tieCols.map(col)
    val w = Window.partitionBy(col("__b")).orderBy(order: _*)
    val pfx = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketed = df.withColumn("__b",
      size(filter(lit(bounds), x => x < col(keyCol))).cast("long"))
    val offsets = bucketed.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .withColumn("__base", coalesce(sum(col("__n")).over(pfx), lit(0L)))
      .select(col("__b"), col("__base"))
    bucketed
      .withColumn("__lr", row_number().over(w).cast("long"))
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("global_rank", col("__base") + col("__lr"))
      .drop("__b", "__lr", "__base")
  }

  /** Exact global RUNNING SUM of an integer column in (keyCol,
    * tieCols…) order WITHOUT the single-partition window trap — the
    * prefix-sum sibling of [[globalRank]], same scaffold: literal
    * quantile boundaries bucket the rows (boundary choice affects only
    * balance, never values), per-bucket inclusive running sums run in
    * parallel, and a ≤|buckets|-row offset table (prefix of bucket
    * totals) is broadcast back. `valueCol` must be integral — the sums
    * are exact and order-independent, which is what makes the
    * bucket-decomposition value-identical to the serial window.
    *
    * This is the scale form of every "cumulative bytes/tokens in
    * arrival order" computation — shard planning, token-budget cuts,
    * quota lines — where `sum(x) OVER (ORDER BY …)` would serialize
    * the corpus through one task.
    */
  def globalRunningSum(df: DataFrame, keyCol: String, tieCols: Seq[String],
      valueCol: String, buckets: Int = 64): DataFrame = {
    require(buckets >= 2)
    import org.apache.spark.sql.expressions.Window
    val fracs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.stat.approxQuantile(keyCol, fracs, 0.001)
      .distinct.sorted
    val order = col(keyCol) +: tieCols.map(col)
    val w = Window.partitionBy(col("__b")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pfx = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketed = df.withColumn("__b",
      size(filter(lit(bounds), x => x < col(keyCol))).cast("long"))
    val offsets = bucketed.groupBy(col("__b"))
      .agg(sum(col(valueCol)).as("__s"))
      .withColumn("__base", coalesce(sum(col("__s")).over(pfx), lit(0L)))
      .select(col("__b"), col("__base"))
    bucketed
      .withColumn("__ls", sum(col(valueCol)).over(w))
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("running_sum", col("__base") + col("__ls"))
      .drop("__b", "__ls", "__base")
  }

  /** Exact global NTILE(n) over (keyCol asc, tieCol asc) WITHOUT the
    * single-partition window trap: a naive `ntile(n) OVER (ORDER BY …)`
    * moves the whole corpus through one task. Requires `keyCol` to have
    * a bounded value domain (scores, bucketed metrics — NOT unique ids):
    *
    *   1. per-key counts (one exchange, |distinct keys| rows),
    *   2. the serial prefix sum runs over |distinct keys| rows only —
    *      the same hierarchical-smallness argument as Packing.packBins,
    *   3. within-key ranks partition by key (parallel),
    *   4. global rank = key offset + within-key rank; the standard
    *      NTILE formula (first n_rows mod n tiles get the extra row)
    *      is applied arithmetically.
    *
    * Emits the input columns plus `tier` (1-based). The formula is the
    * SQL-standard tile rule, so an oracle can use the engine's own
    * ntile() — cross-validating this construction against a built-in.
    *
    * `df` feeds three readers (per-key counts, row total, main path)
    * but is deliberately NOT persisted: everything lands in ONE action,
    * where ReuseExchange dedupes the identical upstream subtrees —
    * persist was measured 14% SLOWER on q_curriculum (cache-write cost,
    * nothing saved). Contrast q_leakage_split, whose pair pipeline
    * feeds separate ACTIONS (CC's per-round counts) and does need the
    * persist.
    *
    * The bounded-domain precondition is ENFORCED, not just documented:
    * called on a high-cardinality key (a unique id) this would
    * broadcast an unbounded offset table and serialize the prefix-sum
    * window. The guard rides IN-PLAN on the same single-partition
    * window pass the prefix sum already makes over the aggregated
    * per-key table — a count over the full frame next to the prefix
    * frame, raise_error past `maxKeys` — so the legitimate case pays
    * ZERO extra passes (an earlier eager approx_count_distinct guard
    * re-executed the whole upstream pipeline: +55% on q_curriculum),
    * and the pathological case fails with a clear message after
    * sorting only the |keys|-row AGGREGATE, before anything is
    * broadcast or joined. The failure message names the
    * range-partitioned-rank alternative.
    */
  def globalNtile(df: DataFrame, keyCol: String, tieCol: String, n: Int,
                  maxKeys: Long = 1000000L): DataFrame = {
    require(n >= 1)
    import org.apache.spark.sql.expressions.Window
    // The input feeds THREE subtrees (per-key counts, the total-rows
    // aggregate, and the ranked main branch), and nothing guarantees
    // exchange reuse across them — an expensive upstream (q_curriculum
    // feeds the whole bigram-surprisal pipeline in here) executed ~3×
    // before this persist (measured 4.8 → 4.0 s at sf0.1; the remaining
    // cost is the one cache-populating surprisal run plus the ~8 small
    // stages of the rank/offset scaffold). Scoped: the cache dies with
    // the first consuming action.
    val in = df.persist()
    val perKey = in.groupBy(col(keyCol).as("gk")).agg(count(lit(1)).as("cnt"))
    val pfx = Window.orderBy(col("gk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val full = Window.orderBy(col("gk"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = perKey
      .withColumn("base", coalesce(sum(col("cnt")).over(pfx), lit(0L)))
      .withColumn("__nk", count(lit(1)).over(full))
      // data-dependent raise_error survives column pruning (it feeds
      // `base`); a pruned-away side column would be optimized out
      .withColumn("base",
        when(col("__nk") > maxKeys, raise_error(concat(
          lit(s"globalNtile($keyCol): "), col("__nk"),
          lit(s" distinct keys exceeds maxKeys=$maxKeys. The serial prefix " +
            "sum and broadcast offset table are sized by the key domain, so " +
            "this key is too fine — bucket it first (e.g. floor/round the " +
            "score), raise maxKeys deliberately, or use Ranking.globalRank " +
            "(quantile-bucketed, built for unbounded key domains) and " +
            "derive tiles from global_rank."))).cast("long"))
          .otherwise(col("base")))
      .select(col("gk").as(keyCol), col("base"))
    val within = Window.partitionBy(col(keyCol)).orderBy(col(tieCol))
    val tot = in.agg(count(lit(1)).as("n_rows"))
    val result = in.withColumn("wr", row_number().over(within).cast("long"))
      .join(broadcast(offsets), Seq(keyCol))
      .crossJoin(broadcast(tot))
      .withColumn("r", col("base") + col("wr"))
      // CASE branches are evaluated lazily per row: with n_rows < n the
      // ELSE (which divides by q = 0) is unreachable, not an ANSI error
      .withColumn("tier", expr(
        s"""CASE WHEN r <= (n_rows % $n) * (n_rows div $n + 1)
           |     THEN (r - 1) div (n_rows div $n + 1) + 1
           |     ELSE (n_rows % $n) +
           |          (r - (n_rows % $n) * (n_rows div $n + 1) - 1)
           |            div (n_rows div $n) + 1
           |END""".stripMargin))
      .drop("wr", "base", "n_rows", "r")
    graft.core.CacheScope.releaseAfterUse(result, in)
  }
}
