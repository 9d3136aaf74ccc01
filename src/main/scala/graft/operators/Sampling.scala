package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / dataset-splitting operators.
  *
  * Training pipelines need splits that are (a) reproducible across
  * runs and engines, (b) stable under repartitioning, and (c) cheap.
  * `rand()`-based sampling is none of these; hashing the row id is all
  * three: a row's split is a pure function of its id.
  *
  * The hash key is the first 4 hex digits of md5(id) — fixed-width
  * lowercase hex, so LEXICOGRAPHIC order equals numeric order and the
  * cut is a plain string comparison any ANSI engine reproduces exactly
  * (no hex→int conversion, which not every engine has). Granularity:
  * 1/65536.
  */
object Sampling {

  /** 4-hex-digit uniform hash key of the row id. */
  def hashKey(idCol: Column): Column =
    substring(md5(idCol.cast("string")), 1, 4)

  /** True iff the id's hash key falls below the fraction cut. The cut
    * is clamped to [0, 65536]; the boundary fractions short-circuit to
    * constants because a 4-char comparison cannot express them
    * (`"%04x" % 65536` would be the 5-char "10000", which compares
    * greater than only the keys starting with '0' — i.e. fraction 1.0
    * would silently keep ~1/16 of the rows).
    */
  private def belowCut(key: Column, fraction: Double): Column = {
    val cut = math.max(0L, math.min(65536L, math.round(fraction * 65536)))
    if (cut >= 65536L) lit(true)
    else if (cut <= 0L) lit(false)
    else key < lit(f"$cut%04x")
  }

  /** Split tag: "train" for the first `trainFraction` of hash space. */
  def splitTag(idCol: Column, trainFraction: Double): Column =
    when(belowCut(hashKey(idCol), trainFraction), "train").otherwise("val")

  /** Deterministic ~fraction sample, stable across engines/partitioning. */
  def hashSample(df: DataFrame, idCol: String, fraction: Double): DataFrame =
    df.filter(belowCut(hashKey(col(idCol)), fraction))

  /** Stratified deterministic sample: each stratum keeps its own
    * fraction of the id-hash space (the curation move for rebalancing a
    * corpus — e.g. downsample the dominant language hard, keep the rare
    * ones). Same hash key everywhere, so membership stays a pure
    * function of (id, stratum fraction): reproducible across runs,
    * engines, and repartitioning, and a row's fate is stable when a
    * stratum's fraction changes only past its cut. Pure per-row filter —
    * no shuffle, scan speed at any scale.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double): DataFrame = {
    val key = hashKey(col(idCol))
    val pred = fractions.foldLeft(belowCut(key, defaultFraction)) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, belowCut(key, f)).otherwise(acc)
    }
    df.filter(pred)
  }

  /** The hex cut string for a fraction — exposed so oracle SQL can
    * reproduce `belowCut` exactly.
    */
  def cutHex(fraction: Double): String = {
    val cut = math.max(0L, math.min(65536L, math.round(fraction * 65536)))
    f"$cut%04x"
  }

  /** Weighted sampling without replacement, deterministic: each row
    * holds `w` integer "tickets"; ticket j's key is md5(id‖'|'‖j) and a
    * row's DRAW is its minimum ticket key. Taking the k smallest draws
    * selects rows with probability proportional to weight (the owner of
    * the globally smallest ticket is uniform over tickets), without
    * replacement, as a pure function of (id, w) — reproducible across
    * engines, runs, and partitioning. No floats anywhere: the classic
    * Efraimidis–Spirakis exponential key needs ln()/pow(), whose 1-ulp
    * libm differences across engines can flip a rank-boundary
    * selection; integer tickets cannot.
    *
    * Scale: the draw is the codegen'd [[graft.functions.MinTicketKey]]
    * expression — an O(w) register loop per row, NO ticket-row
    * explosion and NO collapsing aggregate (the earlier compositional
    * form materialized Σw rows into a partial min; the oracle still
    * computes it that way, so the hash gate proves the loop
    * bit-matches). The top-k is a TakeOrdered, never a full sort. Cost
    * is Σw md5 calls either way, so bucket large raw weights down
    * (e.g. bytes → KB) before calling.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame =
    df.filter(col(weightCol) >= 1)
      .select(col(idCol), col(weightCol).cast("long").as("weight"),
        graft.functions.MinTicketKey.minTicketKey(
          col(idCol).cast("string"), col(weightCol).cast("long"))
          .as("draw_key"))
      .orderBy(col("draw_key").asc, col(idCol).asc).limit(k)

  /** Exact-quota sampling: exactly min(n, |stratum|) rows per stratum,
    * taken in id-hash order (uniform but fully reproducible) — balanced
    * eval-set construction, where fractions won't do because strata
    * sizes differ. A stratum is far larger than its quota, so the pick
    * runs on [[Ranking.topKPerGroup]]; ties in the 4-hex key break by
    * id, so selection is total-ordered.
    */
  def quotaSample(df: DataFrame, stratumCol: String, idCol: String,
                  n: Int): DataFrame =
    Ranking.topKPerGroup(df, Seq(col(stratumCol)),
      Seq(hashKey(col(idCol)), col(idCol)), n).drop("rank")

  /** Balanced mixture downsample: cap every stratum to (approximately)
    * the SMALLEST stratum's size — the dataset-mixing move a
    * multi-source/multi-language corpus build runs before training.
    * Unlike [[stratifiedSample]] the rates are DATA-DEPENDENT
    * (min_n / n_s per stratum), so the hash cut must be computed
    * in-query: the integer threshold `(min_n · 65536) div n_s` is
    * rendered as 5-char zero-padded lowercase hex and compared against
    * the '0'-prefixed 4-hex id key — the widened width makes the
    * rate-1.0 threshold ("10000") compare above every key, fixing the
    * truncation trap [[belowCut]]'s doc describes, while staying a
    * plain string comparison both engines evaluate identically.
    *
    * Returns per-stratum accounting (stratum, n_docs, n_kept): n_kept
    * is a pure function of the ids and exact integer thresholds, so it
    * hash-gates against any ANSI engine. Plan: one count aggregate
    * (broadcast back), one row-wise draw, one final aggregate — the
    * draw itself never shuffles, scan-speed at 100 TB.
    */
  def balancedMixture(df: DataFrame, stratumCol: String,
                      idCol: String): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min(col("n_docs")).as("min_n"))
    val cut5 = lpad(lower(hex(expr("(min_n * 65536) div n_docs"))), 5, "0")
    df.select(col(stratumCol), col(idCol))
      .join(broadcast(counts), Seq(stratumCol))
      .crossJoin(broadcast(minN))
      .withColumn("keep", concat(lit("0"), hashKey(col(idCol))) < cut5)
      .groupBy(col(stratumCol))
      .agg(max(col("n_docs")).as("n_docs"),
        count(when(col("keep"), 1)).as("n_kept"))
  }

  /** Rendezvous (highest-random-weight) shard assignment (Thaler &
    * Ravishankar '96): shard(id) = argmax over s ∈ [0, nShards) of
    * md5(id ":" s) — the stable sharding rule whose defining property
    * is MINIMAL MOVEMENT: growing nShards → nShards+1 reassigns only
    * the keys whose new shard IS the added one (expected 1/(n+1) of
    * them), where mod-hashing reshuffles (n−1)/n of the corpus. The
    * scoring is a per-row projection (no shuffle, no lookup table);
    * md5 keeps the argmax engine-portable, and a 128-bit collision is
    * the only possible tie, so the s-ascending tiebreak never fires in
    * practice but keeps the expression total.
    *
    * Scale: O(nShards) hashes per row, all inside one codegen'd
    * projection — for shard counts in the thousands, precompute
    * nothing; the whole point is that assignment is a pure function of
    * (id, nShards).
    */
  def rendezvousShard(id: Column, nShards: Int): Column = {
    require(nShards > 0, "nShards must be positive")
    // the struct carries NEGATED s so array_max's lexicographic order
    // resolves an (md5-collision-only) hash tie to the SMALLEST shard —
    // matching the documented s-ascending tiebreak and the oracle's
    // ORDER BY hx DESC, sh ASC
    val scored = transform(sequence(lit(0), lit(nShards - 1)),
      s => struct(
        md5(concat(id.cast("string"), lit(":"), s.cast("string"))).as("h"),
        (-s).as("ns")))
    (-array_max(scored).getField("ns")).cast("long")
  }
}
