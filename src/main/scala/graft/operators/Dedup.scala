package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators (SURVEY.md §2.3 E1/E2): exact
  * (hash-groupBy), MinHash+LSH banding, SimHash, and exact n-gram
  * Jaccard verification — the standard training-data near-dup pipeline
  * (find candidates cheaply with LSH, verify candidates exactly).
  *
  * Scale design: no all-pairs stage anywhere, and no shingle-level
  * shuffle anywhere — [[dedupProfiles]] collapses each document to one
  * profile row map-side, candidates come from signature equi-joins, and
  * verification intersects per-doc hash sets. At 100 TB the only O(n²)
  * risk is a hot LSH bucket; `maxBucketSize` drops those wholesale
  * (raising rowsPerBand sharpens signatures, AQE skew-join handles the
  * residual). Oracle-relevant hashing (minhash family, signatures) is
  * md5 — built-in, codegen'd, engine-portable; the shingle-set members
  * use xxhash64 purely as a compact set identity (a 64-bit collision
  * inside one candidate pair's shingles is ~1e-13 at 100 TB bucket
  * sizes, and only set-intersection counts consume them). No UDFs.
  */
object Dedup {

  /** E1 exact dedup: keep one representative row per duplicate group.
    * One shuffle on the group-key hash; map-side partial aggregation
    * makes the shuffle |distinct|, not |rows|.
    */
  def exactByContent(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Canonical tokenization shared by all text-dedup ops (and by the
    * DuckDB oracles): lower, trim, split on whitespace runs.
    */
  def tokens(textCol: Column): Column =
    split(lower(trim(textCol)), "\\s+")

  /** Word n-gram shingle stream per document: (idCol, shingle), with
    * within-document multiplicity kept (see [[dedupProfiles]] for why
    * distinct is unnecessary there). Documents shorter than n tokens
    * produce no shingles (they cannot be near-duplicates of anything at
    * this shingle size).
    */
  def rawWordShingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val toks = spreadByKey(df, col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
    val grams = (0 until n).map(j => element_at(col("toks"), col("g") + j))
    toks.select(col(idCol), explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("g"),
        col("toks"))
      .select(col(idCol), concat_ws(" ", grams: _*).as("shingle"))
  }

  /** Word n-gram shingle SET per document (distinct rows). */
  def wordShingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    rawWordShingles(df, textCol, idCol, n).distinct()

  /** Character k-gram shingle stream (lowercased, spaces kept): the
    * finer-grained alternative to word shingles — robust to tokenizer
    * drift, catches near-dups that differ inside words. Multiplicity
    * kept; see [[rawWordShingles]].
    */
  def rawCharShingles(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    spreadByKey(df, col(idCol))
      .select(col(idCol), lower(trim(col(textCol))).as("t"))
      .filter(length(col("t")) >= k)
      .select(col(idCol), explode(sequence(lit(1), length(col("t")) - (k - 1))).as("g"),
        col("t"))
      .select(col(idCol), expr(s"substring(t, g, $k)").as("shingle"))

  /** Character k-gram shingle SET per document (distinct rows). */
  def charShingles(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    rawCharShingles(df, textCol, idCol, k).distinct()

  /** The (band, sig) buckets a `maxBucketSize` cap would drop, with
    * their widths — the recall audit for [[lshCandidatePairs]]: callers
    * count/inspect these to see how many documents the cap silences
    * instead of trading recall away blind.
    */
  def oversizedBuckets(sigs: DataFrame, cap: Int): DataFrame =
    sigs.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)

  /** LSH candidate pairs: documents sharing any band signature.
    * The join key is (band, sig) — a pure equi-join, so Catalyst plans a
    * shuffle hash/sort-merge join keyed by signature; no cross product.
    *
    * `maxBucketSize` is the hot-bucket guard for adversarial corpora
    * (e.g. millions of identical boilerplate pages): a bucket of b docs
    * emits O(b²) candidate pairs, so one pathological signature can go
    * quadratic no matter how good the bands are. With the cap set,
    * buckets wider than the cap are dropped before the self-join. Note
    * the trade-off honestly: an over-cap bucket's members share one band
    * signature, which implies PROBABLE similarity, not certain
    * duplication — capping trades recall (genuine near-dup pairs whose
    * only collision was the hot band are lost) for a quadratic-blowup
    * bound. Use [[oversizedBuckets]] to count what a cap would drop
    * before committing to it; running exact dedup first shrinks the hot
    * buckets that identical documents cause.
    */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    val bounded = maxBucketSize match {
      case Some(cap) =>
        val ok = sigs.groupBy(col("band"), col("sig"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= cap)
          .select(col("band"), col("sig"))
        sigs.join(ok, Seq("band", "sig"), "left_semi")
      case None => sigs
    }
    val a = bounded.select(col(idCol).as("id_a"), col("band"), col("sig"))
    val b = bounded.select(col(idCol).as("id_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Per-document dedup profile in ONE aggregation pass — band minhash
    * minima, the xxhash64'd shingle set, and its size. This is the
    * near-dup pipeline's scale centerpiece: a document's text arrives as
    * a single row, so every shingle it generates stays inside its map
    * partition and the partial aggregate collapses the whole document
    * BEFORE any exchange — the shuffle carries one compact row per doc,
    * never shingle rows. min() is duplicate-insensitive, so the raw
    * (non-distinct) shingle stream feeds it directly and the
    * shingle-string distinct shuffle disappears; collect_set dedups its
    * own members. Downstream, Jaccard verification intersects the 8-byte
    * hash sets (array_intersect) instead of re-joining shingle strings —
    * identical values to the string formulation (a 64-bit collision
    * among one pair's shingles is ~1e-13 at 100 TB bucket sizes).
    */
  def dedupProfiles(shingles: DataFrame, idCol: String,
                    bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    // one md5 digest yields 4 independent 32-bit windows; project the
    // digests ONCE before the aggregate so each shingle row pays
    // exactly ceil(numHashes/4) digests regardless of aggregate-side CSE
    val digests = (0 to (numHashes - 1) / 4).map(d =>
      md5(concat(lit(d), lit("|"), col("shingle"))).as(s"d_$d"))
    val pre = shingles.select(
      col(idCol) +: xxhash64(col("shingle")).as("sh_h") +: digests: _*)
    val minCols = (0 until numHashes).map(h =>
      min(substring(col(s"d_${h / 4}"), (h % 4) * 8 + 1, 8)).as(s"mh_$h"))
    val aggCols = minCols :+ collect_set(col("sh_h")).as("sh_set")
    val perDoc = pre.groupBy(col(idCol)).agg(aggCols.head, aggCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      val members = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat(members: _*)).as("sig"))
    }
    perDoc.select(col(idCol), array(bandCols: _*).as("band_sigs"), col("sh_set"),
      size(col("sh_set")).cast("long").as("n"))
  }

  /** [[dedupProfiles]] over character k-grams, computed by the native
    * [[graft.functions.CharMinHashProfile]] expression instead of the
    * shingle-row explode: one O(|text|·digests) loop per document, no
    * |text|-row materialization, no collapsing aggregate — the plan is
    * scan → codegen'd project. Output schema and VALUES are identical
    * to `dedupProfiles(rawCharShingles(df, …, k), …)` (MinHashProfileSpec
    * pins exact equality; sh_set order differs but every consumer is
    * set-semantic).
    */
  def charDedupProfiles(df: DataFrame, textCol: String, idCol: String,
                        k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val numDigests = (numHashes + 3) / 4
    val prof = spreadByKey(df, col(idCol))
      .select(col(idCol), lower(trim(col(textCol))).as("t"))
      .filter(length(col("t")) >= k)
      .select(col(idCol),
        graft.functions.CharMinHashProfile
          .charMinHashProfile(col("t"), k, numDigests).as("p"))
    val bandCols = (0 until bands).map { b =>
      val members = (0 until rowsPerBand)
        .map(r => col("p.mins").getItem(b * rowsPerBand + r))
      struct(lit(b).as("band"), md5(concat(members: _*)).as("sig"))
    }
    prof.select(col(idCol), array(bandCols: _*).as("band_sigs"),
      col("p.sh_set").as("sh_set"),
      size(col("p.sh_set")).cast("long").as("n"))
  }

  /** [[dedupProfiles]] over WORD n-grams, computed by the native
    * [[graft.functions.WordMinHashProfile]] expression instead of the
    * shingle-row explode: one O(|tokens|·digests) loop per document, no
    * |tokens|-row materialization, no collapsing aggregate. Output
    * schema and VALUES are identical to
    * `dedupProfiles(rawWordShingles(df, …, n), …)`
    * (WordMinHashProfileSpec pins exact equality; sh_set order differs
    * but every consumer is set-semantic). The lower+trim normalization
    * stays a Spark projection (same division of labor as
    * [[charDedupProfiles]]); the expression only tokenizes and hashes.
    *
    * CONSUMER TRAP: anything that `explode`s `band_sigs` over this
    * output without a persist in between trips InferFiltersFromGenerate
    * — the inferred `size(band_sigs) > 0` filter is pushdown-substituted
    * all the way to the scan, where it evaluates the profile expression
    * 16× per row (measured 9× wall on q_lsh_bucket_audit). Every
    * consumer persists the profile table first (cache = the pushdown
    * barrier); keep doing that.
    */
  def wordDedupProfiles(df: DataFrame, textCol: String, idCol: String,
                        n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val numDigests = (numHashes + 3) / 4
    // pre-filter on the (cheap) token count rather than post-filtering
    // the profile for null: a `p IS NOT NULL` filter above the
    // projection gets pushdown-substituted and the expensive expression
    // runs twice per row (the CollapseProject lesson, SCALE.md).
    val prof = spreadByKey(df, col(idCol))
      .select(col(idCol), lower(trim(col(textCol))).as("t"))
      .filter(size(split(col("t"), "\\s+")) >= n)
      .select(col(idCol),
        graft.functions.WordMinHashProfile
          .wordMinHashProfile(col("t"), n, numDigests).as("p"))
    val bandCols = (0 until bands).map { b =>
      val members = (0 until rowsPerBand)
        .map(r => col("p.mins").getItem(b * rowsPerBand + r))
      struct(lit(b).as("band"), md5(concat(members: _*)).as("sig"))
    }
    prof.select(col(idCol), array(bandCols: _*).as("band_sigs"),
      col("p.sh_set").as("sh_set"),
      size(col("p.sh_set")).cast("long").as("n"))
  }

  /** Sketch-accuracy audit for the minhash family — per LSH candidate
    * pair, the SIGNATURE-estimated similarity next to the exact Jaccard
    * ingredients, in pure integers: `est_slots` (# agreeing minhash
    * slots of `bands·rowsPerBand`), the exact `n_inter`/`n_union`
    * shingle-set counts, and the signed cross-multiplied error
    * `err_units = est_slots·n_union − numHashes·n_inter` (positive =
    * sketch overestimates; |err_units|/(numHashes·n_union) is the
    * absolute error as a fraction, left un-divided to stay
    * engine-exact). The q_ann_recall twin for the TEXT pipeline: run it
    * before trusting signature-only shortcuts (e.g. skipping exact
    * verification) at a new shingle size or band shape.
    *
    * Same plan skeleton as [[wordDedupProfiles]] + candidate join; the
    * slot comparison is a 16-element zip per candidate pair — linear in
    * candidates, bucketed like every LSH consumer, 100 TB-safe.
    */
  def minhashErrorAudit(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 2): DataFrame = {
    val numHashes = bands * rowsPerBand
    val numDigests = (numHashes + 3) / 4
    val prof = spreadByKey(df, col(idCol))
      .select(col(idCol), lower(trim(col(textCol))).as("t"))
      .filter(size(split(col("t"), "\\s+")) >= n)
      .select(col(idCol),
        graft.functions.WordMinHashProfile
          .wordMinHashProfile(col("t"), n, numDigests).as("p"))
      .select(col(idCol), col("p.mins").as("mins"), col("p.sh_set").as("sh_set"))
      .persist()
    val bandCols = (0 until bands).map { b =>
      val members = (0 until rowsPerBand)
        .map(r => col("mins").getItem(b * rowsPerBand + r))
      struct(lit(b).as("band"), md5(concat(members: _*)).as("sig"))
    }
    val sigs = prof.select(col(idCol), explode(array(bandCols: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cands = lshCandidatePairs(sigs, idCol)
    val a = prof.select(col(idCol).as("id_a"), col("mins").as("mins_a"),
      col("sh_set").as("sh_a"))
    val b = prof.select(col(idCol).as("id_b"), col("mins").as("mins_b"),
      col("sh_set").as("sh_b"))
    graft.core.CacheScope.releaseAfterUse(
      cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          size(filter(zip_with(col("mins_a"), col("mins_b"),
            (x, y) => x === y), bb => bb)).cast("long").as("est_slots"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
            .as("n_inter"),
          (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("szsum"))
        .select(col("id_a"), col("id_b"), col("est_slots"), col("n_inter"),
          (col("szsum") - col("n_inter")).as("n_union"))
        .withColumn("err_units",
          col("est_slots") * col("n_union") -
            lit(numHashes.toLong) * col("n_inter")),
      prof)
  }

  /** LSH candidate pairs straight from [[dedupProfiles]] output. */
  def profileCandidatePairs(profiles: DataFrame, idCol: String,
                            maxBucketSize: Option[Int] = None): DataFrame =
    lshCandidatePairs(
      profiles.select(col(idCol), explode(col("band_sigs")).as("bs"))
        .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig")),
      idCol, maxBucketSize)

  /** LSH candidates ACROSS two corpora (incremental dedup: a new batch
    * against the already-ingested reference corpus). Same band+sig
    * equi-join as [[profileCandidatePairs]] but sides are distinct
    * relations, so no id ordering constraint — (new, ref) pairs out.
    * This is the production shape: the reference side's signatures are
    * computed ONCE at ingest and reused every batch; only the new
    * batch pays shingling.
    */
  def crossCorpusCandidates(profilesNew: DataFrame, profilesRef: DataFrame,
                            idCol: String): DataFrame = {
    def sigs(p: DataFrame, as: String) =
      p.select(col(idCol).as(as), explode(col("band_sigs")).as("bs"))
        .select(col(as), col("bs.band").as("band"), col("bs.sig").as("sig"))
    sigs(profilesNew, "id_a").join(sigs(profilesRef, "id_b"), Seq("band", "sig"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact Jaccard on candidate pairs from profile hash sets: two id
    * equi-joins fetch the per-doc sets, array_intersect counts the
    * overlap — no shingle-level shuffle at all.
    *
    * `broadcastCandidates = true` pins BOTH id-joins to build on the
    * candidate-derived side (the pair list, then pair+set_a). Leave it
    * false unless the caller can BOUND the candidate volume: with it
    * true an unbounded pair list becomes an unbounded broadcast. When
    * the bound holds (cap-audited LSH candidates — see
    * [[lshCandidatePairs]]'s maxBucketSize accounting), the hint
    * removes a measured nondeterminism rather than adding risk: both
    * joins sit exactly at AQE's borderline at bench scale, and whether
    * the runtime BHJ conversion lands depends on stage-completion
    * order — the r13 isolated re-timing of q_ngram_jaccard caught
    * passes on identical code at 0 MB shuffle / ~5 s CPU vs 18 MB
    * shuffle / ~21 s CPU (the profile side's shingle-set arrays being
    * exchanged AND sorted under the losing SMJ plan). The flip, not
    * contention, was the r12 driver artifact's 0.45 → 1.48 s
    * "regression on untouched code".
    */
  def jaccardFromProfiles(profiles: DataFrame, candidates: DataFrame,
                          idCol: String,
                          broadcastCandidates: Boolean = false): DataFrame = {
    val a = profiles.select(col(idCol).as("id_a"),
      col("sh_set").as("set_a"), col("n").as("n_a"))
    val b = profiles.select(col(idCol).as("id_b"),
      col("sh_set").as("set_b"), col("n").as("n_b"))
    def hinted(df: DataFrame) = if (broadcastCandidates) broadcast(df) else df
    hinted(hinted(candidates).join(a, Seq("id_a"))).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("n_inter"),
        col("n_a"), col("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** Asymmetric containment on candidate pairs: |A∩B|/|A| and
    * |A∩B|/|B| from the profile hash sets. Catches what symmetric
    * Jaccard misses — a short document quoted wholesale inside a long
    * one has low Jaccard (the union is large) but containment ≈ 1 on
    * the short side. Same two id equi-joins as [[jaccardFromProfiles]].
    */
  def containmentFromProfiles(profiles: DataFrame, candidates: DataFrame,
                              idCol: String): DataFrame = {
    val a = profiles.select(col(idCol).as("id_a"),
      col("sh_set").as("set_a"), col("n").as("n_a"))
    val b = profiles.select(col(idCol).as("id_b"),
      col("sh_set").as("set_b"), col("n").as("n_b"))
    candidates.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("n_inter"),
        col("n_a"), col("n_b"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("n_inter") / col("n_a")).as("containment_a"),
        (col("n_inter") / col("n_b")).as("containment_b"))
  }

  /** End-to-end MinHash near-dup: shingle → band-minhash → LSH candidates
    * → exact-Jaccard verify ≥ threshold.
    */
  def minhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
                            shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                            threshold: Double = 0.5): DataFrame = {
    // The profile table is consumed four times (both sides of the
    // candidate self-join, both verify joins), so persist it: it is one
    // compact row per document — unlike the round-1 experiment of
    // persisting the shingle-ROW stream, which was corpus-text-sized and
    // doubled wall time. Recomputing would re-run the whole
    // explode+md5 pipeline per consumer. The returned plan references
    // the cache lazily, so it cannot be unpersisted here; CacheScope
    // drops it right after the first action that consumes the result.
    val profiles = wordDedupProfiles(df, textCol, idCol, shingleSize,
      bands, rowsPerBand).persist()
    val cands = profileCandidatePairs(profiles, idCol)
    graft.core.CacheScope.releaseAfterUse(
      jaccardFromProfiles(profiles, cands, idCol).filter(col("jaccard") >= threshold),
      profiles)
  }

  /** E2 EXACT set-similarity join via prefix filtering (the
    * PPJoin/AllPairs family — Chaudhuri et al.'s SSJoin primitive, Bayardo
    * et al. WWW'07): every pair with char-shingle Jaccard ≥ tNum/tDen,
    * with NO false negatives — the guarantee MinHash LSH trades away.
    * Use it when recall must be provable (legal dedup, eval-set
    * decontamination); use LSH when approximate recall is acceptable.
    *
    * Principle: order each document's shingle set by ascending global
    * document frequency (rarest first, ties on the shingle string so
    * the order is total and engine-portable). If J(A,B) ≥ t then
    * |A∩B| ≥ ⌈t·|A|⌉, so two similar sets MUST share a shingle within
    * their first |A| − ⌈t·|A|⌉ + 1 entries — the prefix. Candidates =
    * pairs sharing a PREFIX shingle (an equi-join sized by the rare
    * end of the frequency spectrum: measured at sf0.1, 9.0M
    * co-occurring pairs prune to 90k candidates, 100×), plus the
    * length filter min·tDen ≥ max·tNum (J ≤ min/max). Verify is the
    * standard exact intersection count, filtered by the
    * integer-exact cross-multiply `i·tDen ≥ (nA+nB−i)·tNum` — the
    * threshold never touches floating point, so ⌈·⌉ boundary cases
    * are engine-exact (the one fp op is the reported jaccard ratio,
    * computed once from exact integers).
    *
    * Scale: shuffles are keyed by shingle (df count + candidate join)
    * and (id, shingle) / pair (verify) — all linear in their inputs
    * except the candidate join's Σ df_prefix² blow-up bound, which the
    * rarest-first prefix makes small by construction; a corpus whose
    * PREFIX shingles are still hot (boilerplate-only docs) surfaces as
    * a skewed join stage — `maxPrefixDf` is that hot-bucket cap: prefix
    * entries whose global document frequency exceeds it are dropped
    * from the candidate index, bounding any one shingle's join
    * contribution at maxPrefixDf². The cap trades the zero-false-
    * negative guarantee for skew safety, so cap events MUST be
    * observable: [[prefixJoinCapAudit]] reports, per document, how many
    * prefix entries the cap removed and whether the whole prefix is
    * gone (`fully_capped` — the doc is invisible to the candidate join
    * and ANY pair involving it can be missed). The guarantee survives
    * exactly for pairs where both docs have n_capped = 0; run the audit
    * whenever maxPrefixDf < Long.MaxValue and treat nonzero
    * fully_capped counts as a recall incident, not noise.
    * The shingle-set frame feeds 4 consumers → persisted, released
    * after the first consuming action.
    */
  def prefixJaccardJoin(df: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 12, tNum: Int = 8, tDen: Int = 10,
                        maxPrefixDf: Long = Long.MaxValue): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // r15: hash shingles to 64-bit identities BEFORE the set-distinct —
    // everything downstream (df count, prefix window, candidate
    // self-join, verify sets) runs on 8-byte keys; the k-char strings
    // never cross an exchange (guide §2.3 / §8: decide on a proxy).
    // Same xxhash64-identity convention (and collision bound) the
    // verify step below always used.
    val sh = rawCharShingles(df, textCol, idCol, shingleSize)
      .select(col(idCol), xxhash64(col("shingle")).as("h"))
      .distinct().persist()
    val prefix = prefixFrame(sh, idCol, tNum, tDen)
      .select(col(idCol), col("h"), col("n"), col("dfr"))
      .persist()
    // rarest-first ordering puts hot shingles at the END of a prefix,
    // so the cap only ever truncates the boilerplate-heavy tail; a
    // fully-capped prefix means even the doc's RAREST shingles are hot.
    val live = prefix.filter(col("dfr") <= maxPrefixDf)
    val cand = live.as("x").join(live.as("y"),
        col("x.h") === col("y.h") &&
          col(s"x.$idCol") < col(s"y.$idCol") &&
          least(col("x.n"), col("y.n")) * tDen >=
            greatest(col("x.n"), col("y.n")) * tNum)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    // verify on per-doc HASH SETS, not a shingle-row join: candidates ×
    // avg-set-size exploded to ~26M rows at sf0.1 (measured 7.7 s);
    // one array_intersect per candidate pair over collapsed set rows is
    // codegen'd and shuffles |cand| + |docs| rows only (5.2-5.9 s
    // across host-noise runs). Same xxhash64 set-identity convention
    // (and ~1e-13 collision bound) as jaccardFromProfiles.
    val sets = sh.groupBy(col(idCol)).agg(
      collect_set(col("h")).as("hs"),
      count(lit(1)).as("n"))
    val out = cand
      .join(sets.select(col(idCol).as("id_a"),
        col("hs").as("hs_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"),
        col("hs").as("hs_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("n_inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .filter(col("n_inter") * tDen >=
        (col("n_a") + col("n_b") - col("n_inter")) * tNum)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
    graft.core.CacheScope.releaseAfterUse(out, sh, prefix)
  }

  /** The rarest-first prefix index shared by [[prefixJaccardJoin]] and
    * [[prefixJoinCapAudit]]: per (doc, shingle) prefix entries carrying
    * the doc's set size `n` and the shingle's global document frequency
    * `dfr`. Persist discipline is the caller's.
    *
    * spreadByKey, not a bare window input: the join output is
    * byte-small, so AQE would coalesce the window's doc-partition
    * exchange onto a couple of cores and serialize the per-doc sort;
    * the explicit-count repartition pins full parallelism AND is the
    * exact distribution the window needs (no second exchange).
    */
  private def prefixFrame(sh: DataFrame, idCol: String,
                          tNum: Int, tDen: Int): DataFrame = {
    // r15: the stream arrives as (id, h) with h = xxhash64(shingle) —
    // the df count, the join back and the per-doc ordering all run on
    // 8-byte keys instead of k-char strings (guide §2.3 narrower
    // types; the 12-char strings were hashed, sorted and shuffled at
    // every exchange of this pipeline). The (dfr, h) tie-break is a
    // different-but-consistent total order vs (dfr, shingle):
    // prefix-filter recall (zero FN for ANY consistent global order)
    // and the audit outputs (n_prefix is a count; n_capped counts
    // dfr > cap over a prefix whose dfr MULTISET is tie-break-
    // invariant) are unchanged; hash-identity collisions carry the
    // same stated ~1e-13/pair bound the verify step already accepts.
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("dfr"))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("dfr"), col("h"))
    val wN = Window.partitionBy(col(idCol))
    // persist (by the caller) matters: the candidate self-join reads the
    // prefix on BOTH sides, and nothing guarantees exchange reuse across
    // a self-join's two subtrees — unpersisted, the shingle⋈dfreq
    // shuffle + per-doc window ran twice (measured 11.2 → 7.7 s at
    // sf0.1). It is the ~20%-rarest slice of the shingle stream, far
    // smaller than sh.
    spreadByKey(sh.join(dfreq, Seq("h")), col(idCol))
      .withColumn("r", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(wN))
      .filter(col("r") <= col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
  }

  /** Dropped-recall accounting for [[prefixJaccardJoin]]'s hot-prefix
    * cap: one row per document with `n_prefix` (prefix length before
    * the cap), `n_capped` (prefix entries whose shingle df exceeds
    * maxPrefixDf — removed from the candidate index), and
    * `fully_capped` (the ENTIRE prefix was hot: the document cannot
    * appear in any candidate pair, so every pair involving it is
    * potentially lost). Pairs where both sides report n_capped = 0
    * retain the exact zero-false-negative guarantee; anything else is
    * the explicitly-accounted recall cost of skew safety.
    */
  def prefixJoinCapAudit(df: DataFrame, textCol: String, idCol: String,
                         shingleSize: Int = 12, tNum: Int = 8, tDen: Int = 10,
                         maxPrefixDf: Long = Long.MaxValue): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // prefixFrame reads the shingle stream twice (df-count aggregation +
    // the join back) — persist it, mirroring prefixJaccardJoin, so the
    // shingle explosion isn't recomputed. Hashed identities as there
    // (r15); the audit outputs are tie-break-invariant, see prefixFrame.
    val sh = rawCharShingles(df, textCol, idCol, shingleSize)
      .select(col(idCol), xxhash64(col("shingle")).as("h"))
      .distinct().persist()
    val out = prefixFrame(sh, idCol, tNum, tDen)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_prefix"),
        sum(when(col("dfr") > maxPrefixDf, 1L).otherwise(0L)).as("n_capped"))
      .withColumn("fully_capped", col("n_capped") === col("n_prefix"))
    graft.core.CacheScope.releaseAfterUse(out, sh)
  }

  /** Chaining audit of CC-based near-dup clusters — the known failure
    * mode of transitive closure (a~b, b~c chains a and c into one
    * cluster even when J(a,c) ≈ 0; chains of near-dups can merge
    * genuinely distinct documents) made measurable: for every cluster,
    * the exact Jaccard of EVERY member pair (not just the LSH-verified
    * edges), its minimum, and a `chained` verdict when the weakest
    * pair falls below `thresholdBp`. This is the audit that decides
    * whether clusterSurvivors can be trusted or the threshold/banding
    * needs tightening.
    *
    * Cost shape: member-pair compute is Σ|cluster|² — the same bound
    * as the candidate verify, small for honest near-dup clusters and
    * EXACTLY the thing being audited when it isn't (a pathological
    * mega-cluster shows up as its own quadratic cost; cap cluster size
    * upstream via the hot-bucket cap if that risk is live). Pairs with
    * zero shared shingles are included via the component self-join
    * (they are the chained evidence, jbp = 0).
    */
  def chainAudit(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5, thresholdBp: Long = 5000L): DataFrame = {
    val profiles = wordDedupProfiles(df, textCol, idCol, shingleSize,
      bands, rowsPerBand).persist()
    val cands = profileCandidatePairs(profiles, idCol)
    val pairs = jaccardFromProfiles(profiles, cands, idCol)
      .filter(col("jaccard") >= threshold)
    val comp = connectedComponents(pairs, idCol)
    val msh = comp.join(profiles.select(col(idCol), col("sh_set")), Seq(idCol))
    val pj = msh.select(col("component"), col(idCol).as("id_a"),
        col("sh_set").as("sa"))
      .join(msh.select(col("component").as("comp_b"), col(idCol).as("id_b"),
          col("sh_set").as("sb")),
        col("component") === col("comp_b") && col("id_a") < col("id_b"))
      .select(col("component"), col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("ni"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("sz"))
      .withColumn("jbp", expr("ni * 10000 div (sz - ni)"))
    val agg = pj.groupBy(col("component"))
      .agg(count(lit(1)).as("n_pairs"), min(col("jbp")).as("min_jbp"),
        sum(col("jbp")).as("sum_jbp"))
    val members = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    graft.core.CacheScope.releaseAfterUse(
      members.join(agg, Seq("component"))
        .withColumn("chained", col("min_jbp") < thresholdBp),
      profiles)
  }

  /** Materialize the deduplicated corpus: drop every doc named as the
    * right-hand member of a near-dup pair (id_a < id_b convention keeps
    * the smallest id as representative). A left-anti join — the 100 TB
    * plan is a broadcast/shuffle anti-join on the id, never a filter
    * over a collected list.
    */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Connected components over a near-dup pair graph: the transitive-
    * closure step between "pairs" and "keep one per CLUSTER" (pairwise
    * drop alone mislabels chains: a~b, b~c must collapse to ONE
    * representative even if a~c was never a candidate). Label
    * propagation to fixpoint: every node starts at min(self ∪
    * neighbors) — round 1 fused into initialization — then each
    * round takes the min of its own and all neighbors' labels;
    * converged when a round changes nothing. Each round is one
    * self-equi-join + one groupBy keyed by node id — no adjacency
    * matrix, nothing quadratic; rounds needed = graph diameter
    * (near-dup clusters are shallow — `maxIter` bounds pathology). The
    * per-round convergence check is one count() action: the standard
    * Pregel-style driver loop, O(diameter) scheduler round-trips, all
    * data stays distributed.
    *
    * Returns (idCol, "component") for every node in `pairs`, component
    * = the least reachable id (deterministic representative).
    */
  def connectedComponents(pairs: DataFrame, idCol: String, maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    // persist: the edge table is re-joined every round — without this
    // the whole upstream pair pipeline (LSH, Jaccard, ...) re-executes
    // per iteration. Edge set is |pairs|·2 rows — small by construction.
    // repartition by src BEFORE the persist (the q_pagerank discipline):
    // distinct hashes (src, dst), so the persisted blocks would not
    // satisfy the per-round join's HashPartitioning(src) and the WHOLE
    // edge set would re-exchange every round; src-partitioned blocks
    // make the join's edge side exchange-free for every round (the
    // labels side is already node-hashed by the previous round's
    // aggregate — measured: one shuffle per round instead of two).
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      .repartition(col("src")).persist()
    val sc = pairs.sparkSession.sparkContext
    // Initial labels = min(self ∪ neighbor IDS) — exactly round 1 of
    // label propagation (neighbors' initial labels ARE their ids),
    // fused into the node-list aggregate instead of paying a full
    // join+union+groupBy round to compute it. Saves one round on every
    // graph (a pair/star component now converges after ONE loop pass).
    var labels = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("mn"))
      .select(col("node"), least(col("mn"), col("node")).as("component"))
    var converged = false
    var iter = 0
    // RDDs pinned by the previous round's localCheckpoint: once round N
    // is materialized, round N-1's labels are never read again, so its
    // blocks are dropped here instead of accumulating one copy per
    // round. The FINAL round's checkpoint must stay resident — a
    // localCheckpoint truncates lineage, so its blocks are the only copy
    // of the result and unpersisting would make re-materialization
    // throw; harnesses sweep it via CacheScope.releaseStragglers once
    // the returned frame is dead.
    var prevRoundRdds: Iterable[org.apache.spark.rdd.RDD[_]] = Nil
    while (!converged && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("component"),
          lit(null).cast(labels.schema("component").dataType).as("own"))
      // One aggregation carries BOTH the new label (min over self +
      // neighbors) and the previous one (min(own) — non-null only on
      // the self row), so convergence is a filter over this round's
      // materialized output instead of a second join-the-old-labels
      // job per round.
      //
      // localCheckpoint (eager), not persist: it also TRUNCATES lineage,
      // so round N's plan doesn't embed rounds 1..N-1 — without this the
      // logical plan grows per round and analysis/optimization time
      // comes to dominate the tiny frontier jobs (measured ~2× on the
      // fixture). A fault-tolerant deployment would swap in reliable
      // checkpoint(); the algorithm is identical.
      val before = sc.getPersistentRDDs.keySet
      val next = labels.withColumn("own", col("component"))
        .unionByName(viaNeighbors)
        .groupBy(col("node"))
        .agg(min(col("component")).as("component"), min(col("own")).as("own"))
        .localCheckpoint()
      val thisRoundRdds =
        (sc.getPersistentRDDs -- before).values.map { r =>
          r.setName(s"graft.connectedComponents round $iter"); r
        }
      val changed = next.filter(col("component") =!= col("own")).count()
      prevRoundRdds.foreach(_.unpersist(blocking = false))
      prevRoundRdds = thisRoundRdds
      labels = next.select(col("node"), col("component"))
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    labels.select(col("node").as(idCol), col("component"))
  }

  /** One large-star contraction: for every node u (over the SYMMETRIC
    * neighborhood), connect each strictly-larger neighbor to
    * m = min(Γ(u) ∪ {u}). Connectivity-preserving; together with
    * [[smallStar]] this is the alternating algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SOCC '14) — the
    * doubling-style contraction that closes chains in O(log d) rounds
    * instead of label propagation's O(d). Each application is one
    * groupBy + one equi-join — all keyed by node id, nothing
    * quadratic. Emitted edges can't be self-loops (m ≤ u < dst).
    *
    * @note Only [[smallStar]] may consume this; rows may repeat. The
    * output is a MULTISET of edges (no trailing distinct): smallStar
    * re-orients and dedups its input, so the composed round's edge SET
    * is exact, but any other consumer (a convergence count, a labels
    * pass) would count an edge once per copy.
    */
  private def largeStarMultiset(edges: DataFrame): DataFrame = {
    // r16 (one exchange for the whole contraction): repartition the
    // symmetrized neighborhood by src ONCE — the min-neighbor aggregate
    // runs exchange-free on it (subset rule) and both join sides arrive
    // already hash(src)-distributed, so EnsureRequirements inserts
    // nothing and ReuseExchange serves both consumers from the same
    // physical exchange. The old shape paid separate exchanges for the
    // aggregate and the join's sym side, plus a trailing hash(src, dst)
    // distinct — dropped here: [[smallStar]] immediately re-orients and
    // dedups its input, so the composed round's edge SET is unchanged
    // (min() and the orientation are duplicate-insensitive) and the
    // distinct's full-width exchange + aggregate was pure overhead.
    val sym = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
    val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    sym.join(mins, Seq("src"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** One small-star contraction: orient every edge (larger, smaller);
    * for each node u connect its smaller neighbors — and u itself — to
    * m = min of those neighbors. Self-loop-free for the same reason as
    * [[largeStarMultiset]] (m ≤ v < u on every emitted edge).
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    // r16: same one-exchange discipline as [[largeStarMultiset]] — the
    // orientation dedup runs ON a hash(u) repartition (subset rule:
    // {u} ⊆ {u, v}), which then also serves the min aggregate and both
    // join sides exchange-free. Only the final union distinct pays its
    // own (src, dst) exchange — which doubles as the partitioning the
    // caller's set-equality anti-join wants. 2 exchanges per
    // application, was 4.
    val oriented = edges.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(col("u"))
      .dropDuplicates("u", "v")
    val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
    oriented.join(mins, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .unionByName(mins.select(col("u").as("src"), col("m").as("dst")))
      .distinct()
  }

  /** Alternating large-star/small-star connected components — the
    * opt-in variant for HIGH-DIAMETER graphs. Same contract and output
    * as [[connectedComponents]] (every node of `pairs` labeled with the
    * least id of its component); the difference is round complexity:
    * label propagation needs diameter rounds (a 100-link chain = 100
    * driver round-trips), star contraction needs O(log d) (the same
    * chain closes in ~6). Each star round costs MORE than a
    * label-propagation round (two neighborhood aggregates, two joins,
    * two distincts, plus the set-equality convergence check), so on the
    * shallow graphs LSH near-dup pipelines produce (diameter ~1-2, see
    * SCALE.md's measured crossover) the default stays label
    * propagation; reach for this when components can be long chains
    * (e.g. incremental dedup where each batch links old→new).
    */
  def connectedComponentsStar(pairs: DataFrame, idCol: String,
      maxIter: Int = 30): DataFrame =
    connectedComponentsStarWithRounds(pairs, idCol, maxIter)._1

  /** [[connectedComponentsStar]] plus the number of alternation rounds
    * it ran — the observable the O(log d) claim is specced against.
    */
  def connectedComponentsStarWithRounds(pairs: DataFrame, idCol: String,
      maxIter: Int = 30): (DataFrame, Int) = {
    val sc = pairs.sparkSession.sparkContext
    val preExisting = sc.getPersistentRDDs.keySet
    var edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint()
    var rounds = 0
    var converged = edges.isEmpty
    // same per-round block discipline as connectedComponents: round N's
    // checkpoint blocks are dropped once round N+1 is materialized; the
    // final round's blocks are the result's only copy and stay resident.
    // The input checkpoint above is round 0's predecessor — seed the
    // tracking with it, or its |edges|-sized blocks stay pinned for the
    // whole session after round 1 has made them dead.
    var prevRoundRdds: Iterable[org.apache.spark.rdd.RDD[_]] =
      (sc.getPersistentRDDs -- preExisting).values.map { r =>
        r.setName("graft.connectedComponentsStar input"); r
      }
    while (!converged && rounds < maxIter) {
      val before = sc.getPersistentRDDs.keySet
      val next = smallStar(largeStarMultiset(edges)).localCheckpoint()
      val thisRoundRdds = (sc.getPersistentRDDs -- before).values.map { r =>
        r.setName(s"graft.connectedComponentsStar round $rounds"); r
      }
      // fixpoint ⟺ identical edge SET (both sides are distinct, so
      // count-equal + empty left-anti is set equality); the ops are
      // deterministic functions of the set, so an equal round is final
      val same = next.count() == edges.count() &&
        next.join(edges, Seq("src", "dst"), "left_anti").isEmpty
      prevRoundRdds.foreach(_.unpersist(blocking = false))
      prevRoundRdds = thisRoundRdds
      edges = next
      converged = same
      rounds += 1
    }
    // converged state is a star forest: every edge is (node, its
    // component's least id); roots label themselves. The min-aggregate
    // is a structural no-op at the fixpoint (one edge per node) but
    // keeps the one-label-per-node contract if maxIter capped the loop.
    val labels = edges.select(col("src").as("node"), col("dst").as("component"))
      .unionByName(edges.select(col("dst").as("node"), col("dst").as("component")))
      .groupBy(col("node")).agg(min(col("component")).as("component"))
      .select(col("node").as(idCol), col("component"))
    (labels, rounds)
  }

  /** Cluster-exact dedup materialization: keep one representative (the
    * least id) per CONNECTED COMPONENT of the near-dup graph. Differs
    * from [[dropNearDuplicates]] on transitive shapes: pairs (a,c),(b,c)
    * with a<b<c keep b under pairwise dropping (b is never an id_b) but
    * drop it here — a, b, c are one cluster and only a survives. The
    * drop set is an anti-join against the non-representative component
    * members; nothing is collected.
    */
  def clusterRepresentatives(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val drop = connectedComponents(pairs, idCol)
      .filter(col(idCol) =!= col("component")).select(col(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Quality-aware survivorship: per near-dup CLUSTER, keep the member
    * with the highest score (ties → least id) — what a real curation
    * pipeline does instead of "keep the smallest id" (the best copy of
    * a boilerplate family is rarely the first-crawled one). Returns one
    * row per cluster: (component, survivor id, its score, member
    * count). The argmax is a single max(struct(score, -id))
    * aggregation — no window sort over members.
    */
  def clusterSurvivors(df: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String): DataFrame =
    connectedComponents(pairs, idCol)
      .join(df.select(col(idCol), col(scoreCol)), Seq(idCol))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("neg_id"))).as("best"))
      .select(col("component"), col("n_members"),
        (-col("best.neg_id")).as("survivor_id"), col("best.s").as(scoreCol))

  /** Benchmark-contamination report: for each candidate (training)
    * document, how many of its word n-gram shingles also appear in the
    * benchmark corpus, and how many benchmark documents it collides
    * with. This is the standard eval-leak check before training: any
    * overlap row is a doc to drop or audit.
    *
    * Plan shape: distinct shingles per side, one equi-join on the
    * shingle string, one keyed aggregation — shuffle is bounded by the
    * shingle streams (linear in corpus size), never |train|×|bench|. At
    * 100 TB the benchmark side is typically tiny → Catalyst broadcasts
    * it and the join is shuffle-free.
    */
  def contaminationReport(candidates: DataFrame, benchmark: DataFrame,
                          textCol: String, idCol: String, n: Int = 5): DataFrame = {
    val candGrams = wordShingles(candidates, textCol, idCol, n)
    val benchGrams = wordShingles(benchmark, textCol, idCol, n)
      .select(col(idCol).as("bench_id"), col("shingle"))
    candGrams.join(benchGrams, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("shingle")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Cross-source overlap matrix: exact pairwise Jaccard between the
    * distinct word-n-gram shingle SETS of every pair of provenance
    * groups (sources) — the corpus-acquisition dashboard number
    * ("how much of source B do I already have via source A?") read
    * before paying for an ingest, and the between-groups complement of
    * [[dupNgramCoverage]]'s within-corpus view.
    *
    * Exact, not sketched: intersections come from one self-equi-join of
    * the distinct (group, shingle-hash) table on the shingle, so
    * jaccard_bp is integer-exact and oracle-portable (16-hex md5
    * prefixes bound shuffle width exactly as in [[dupNgramCoverage]]).
    * Only pairs with a non-empty intersection emit a row.
    *
    * Scale: shuffles are shingle-keyed (corpus-linear); join output is
    * Σ_shingle (k_h choose 2) rows where k_h = groups containing that
    * shingle — bounded by |groups|² per shingle, and |groups| is a
    * provenance label domain (tens to low thousands), the same
    * bounded-domain class as globalNtile's key. The per-pair aggregate
    * is |groups|²-sized at most. For very large group domains, sketch
    * the per-group sets (HLL union/intersection) instead.
    */
  def sourceOverlapMatrix(df: DataFrame, textCol: String, idCol: String,
                          groupCol: String, n: Int = 3): DataFrame = {
    val grams = (0 until n).map(j => element_at(col("toks"), col("g") + j))
    val sh = spreadByKey(df, col(idCol))
      .select(col(groupCol), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col(groupCol),
        explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("g"), col("toks"))
      .select(col(groupCol), substring(md5(concat_ws(" ", grams: _*)), 1, 16).as("h"))
      .distinct()
    val counts = sh.groupBy(col(groupCol)).agg(count(lit(1)).as("n_g"))
    val inter = sh.select(col(groupCol).as("source_a"), col("h"))
      .join(sh.select(col(groupCol).as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(counts.select(col(groupCol).as("source_a"), col("n_g").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(counts.select(col(groupCol).as("source_b"), col("n_g").as("n_b"))),
        Seq("source_b"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard_bp", expr("n_inter * 10000 div n_union"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("n_union"), col("jaccard_bp"))
  }

  /** Duplicate-n-gram coverage: for every document, the share of its
    * DISTINCT word n-grams that also occur in at least one OTHER
    * document — the "how much of this text is already elsewhere in the
    * corpus" quality signal that exact-substring dedup pipelines
    * report before deciding what to cut (reference's corpus has no such
    * measure; this is the §"beyond the reference" dedup family).
    *
    * Scale shape: two corpus-linear shuffles — the shingle-frequency
    * aggregate and the per-document roll-up — and nothing pairwise.
    * Shingles travel as 16-hex md5 prefixes (64 bits), so shuffle bytes
    * are bounded regardless of n or token length; a (vanishingly rare)
    * prefix collision merges the same two shingles in ANY engine that
    * reproduces the hash, so the DuckDB oracle stays bit-exact. A
    * shingle seen twice in one doc counts once (distinct-per-doc), so
    * `n_docs` per shingle is exactly the document frequency.
    * `dup_permille` is an exact integer division — no float ratios to
    * drift cross-engine. Docs shorter than n tokens emit no row (they
    * have no n-grams to measure).
    */
  def dupNgramCoverage(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 5): DataFrame = {
    val sh = rawWordShingles(df, textCol, idCol, n)
      .select(col(idCol), substring(md5(col("shingle")), 1, 16).as("sh"))
      .distinct()
    val freq = sh.groupBy(col("sh")).agg(count(lit(1)).as("n_docs"))
    sh.join(freq, Seq("sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_permille", expr("n_dup_grams * 1000 div n_grams"))
  }

  /** Soft dedup: instead of DROPPING near-duplicates, weight every
    * document by the inverse of its near-dup cluster size
    * (weight_ppm = ⌊10⁶ / |cluster|⌋), so a training pipeline can keep
    * the whole corpus but make each duplicated passage contribute one
    * document's worth of loss in expectation. Clusters are the same
    * MinHash/LSH → connected-components closure as the hard-dedup path
    * ([[minhashNearDuplicates]] → [[connectedComponents]]); documents
    * in no cluster get weight 1.0 (10⁶ ppm).
    *
    * Scale shape: identical to the cluster queries (LSH equi-join +
    * iterative CC on the pair graph — both corpus-linear for bounded
    * cluster sizes) plus two broadcast-size joins: cluster sizes are
    * |components| rows, and the weight join back to the corpus is a
    * left join on the doc id, which AQE turns into a broadcast when the
    * dup set is small relative to the corpus (the common case).
    * Weights are exact integer ppm — no float division to drift.
    */
  def softDedupWeights(df: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 3, bands: Int = 8,
                       rowsPerBand: Int = 2,
                       threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDuplicates(df, textCol, idCol,
      shingleSize = shingleSize, bands = bands, rowsPerBand = rowsPerBand,
      threshold = threshold)
    val comp = connectedComponents(pairs, idCol)
    val sized = comp.join(
      comp.groupBy(col("component")).agg(count(lit(1)).as("cluster_size")),
      Seq("component"))
      .select(col(idCol), col("cluster_size"))
    df.select(col(idCol))
      .join(sized, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_ppm", expr("1000000 div cluster_size"))
  }

  /** 32-bit SimHash per document over its token stream (with
    * multiplicity). Bit j of md5(token)'s leading 8 hex nibbles votes
    * ±1; the sign of the vote sum sets bit j of the signature.
    *
    * Engine-portable bit extraction: nibble value via
    * instr('0123456789abcdef', hex_char) - 1, then div/mod — no
    * platform hash, so the DuckDB oracle reproduces it exactly.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // All 32 bit-votes in ONE aggregation pass over the token rows (no
    // ×32 row explosion): per token, bit j is nibble j/4 of the md5 hex
    // prefix shifted by j%4; each bit's ±1 votes are a sum() column.
    // Values are identical to the exploded formulation (the DuckDB
    // oracle keeps that shape).
    val toks = spreadByKey(df, col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col(idCol), md5(col("tok")).as("th"))
    val voteCols = (0 until 32).map { j =>
      val nib = s"(instr('0123456789abcdef', substring(th, ${j / 4 + 1}, 1)) - 1)"
      sum(expr(s"(($nib div ${1 << (j % 4)}) % 2) * 2 - 1")).as(s"v_$j")
    }
    toks.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
      .select(col(idCol),
        (0 until 32).map(j => when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Hamming distance between two simhash signatures. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with scale-safe candidate generation:
    * split each 32-bit signature into 4 byte bands and equi-join on
    * (band, value) — by pigeonhole, any pair within hamming ≤ 3 agrees
    * on at least one full band, so recall is exact for the default
    * radius; the hamming filter then removes band-collision false
    * positives. No all-pairs stage.
    */
  def simhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
                            maxHamming: Int = 3): DataFrame = {
    // one 8-byte signature per doc, consumed by both self-join sides —
    // persist to avoid running the token-explode + 32-vote aggregation
    // twice (cache size is |docs| longs, nothing like the shingle case);
    // lazily referenced by the result, so released by CacheScope after
    // the consuming action instead of here
    val sig = simhash(df, textCol, idCol).persist()
    val par = df.sparkSession.sparkContext.defaultParallelism
    def banded(side: String) = sig
      .select(col(idCol).as(side), col("simhash").as(s"sh_$side"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("band_val",
        expr(s"(sh_$side div CAST(power(2, b * 8) AS BIGINT)) % 256"))
      // explicit co-partitioning on the band key: exchange-free join +
      // AQE-coalescing guard (band rows are tiny, pair output is not)
      .repartition(par, col("b"), col("band_val"))
    graft.core.CacheScope.releaseAfterUse(
      banded("id_a").join(banded("id_b"), Seq("b", "band_val"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          hammingDistance(col("sh_id_a"), col("sh_id_b")).cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming),
      sig)
  }

  /** Bloom-filter incremental dedup screen: test an incoming batch
    * against a corpus-built Bloom filter, then verify the candidates
    * exactly — the screen every incremental ingest runs before paying
    * the exact-dedup join on the full corpus (the filter is corpus-sized
    * bits, the exact join then touches only screen survivors).
    *
    * PORTABILITY over packed bits: the filter is built from the repo's
    * deterministic rolling-hash fingerprint (TextAnalysis.rollingHash of
    * the whitespace-normalized text) with k=2 bit positions per doc,
    * each an affine map (a·h + b) mod `mBits` (a = Knuth's 2654435761,
    * b = 104729; h < 1e9+7 keeps a·h < 2^63 in both engines), and the
    * bit SET is a distinct-positions table — so DuckDB mirrors the
    * actual Bloom semantics and the gate covers the false-positive
    * counts exactly, not just the exact-dup truth. A production deploy
    * at 100 TB would pack the same positions into
    * `bloom_filter_agg`-style binary blobs and broadcast `might_contain`
    * probes; the set-bits table here is ≤ mBits rows and broadcast into
    * both probe joins, identical join shape.
    *
    * Returns ONE summary row: n_batch, n_candidates (screen positives),
    * n_definitely_new (screen negatives — no exact check ever needed),
    * n_true_dup (fingerprint present in corpus), n_false_pos
    * (candidates that the exact verify clears), and n_missed, which is
    * STRUCTURALLY ZERO — a Bloom filter has no false negatives, and the
    * oracle recomputes it so both engines prove it.
    */
  def bloomScreenStats(corpus: DataFrame, batch: DataFrame, textCol: String,
      idCol: String, mBits: Int): DataFrame = {
    require(mBits > 0, "need a positive filter width")
    // two consumers (bit set + exact-verify keys): persist so the
    // corpus-side hash fold runs once; released after the probe action
    val corpusFp = bloomFingerprints(corpus, textCol, idCol, mBits).persist()
    val bits = corpusFp
      .select(explode(array(col("p1"), col("p2"))).as("p")).distinct()
    val corpusH = corpusFp.select(col("h").as("ch")).distinct()

    graft.core.CacheScope.releaseAfterUse(
      bloomScreenDecisions(
        bloomFingerprints(batch, textCol, idCol, mBits), bits, corpusH, idCol)
        .agg(
          count(lit(1)).as("n_batch"),
          count(when(col("cand"), 1)).as("n_candidates"),
          count(when(!col("cand"), 1)).as("n_definitely_new"),
          count(when(col("dup"), 1)).as("n_true_dup"),
          count(when(col("cand") && !col("dup"), 1)).as("n_false_pos"),
          count(when(col("dup") && !col("cand"), 1)).as("n_missed")),
      corpusFp)
  }

  /** (idCol, h, p1, p2) rolling-hash fingerprints + the k=2 bloom bit
    * positions (see [[bloomScreenStats]] for the constants). The
    * spreadByKey exchange between the normalization projection and the
    * hash keeps the sub-split-size corpus from funneling through one
    * task; the hash itself is the native [[graft.functions.RollingHash]]
    * expression (child evaluated once per row, so the old per-character
    * CollapseProject hazard no longer applies here).
    */
  private def bloomFingerprints(df: DataFrame, textCol: String,
      idCol: String, mBits: Int): DataFrame = {
    def bitPos(h: Column, mult: Long, add: Long): Column =
      (h * mult + add) % mBits
    graft.operators.spreadByKey(
      df.select(col(idCol),
        TextAnalysis.normalizedText(col(textCol)).as("norm")),
      col(idCol))
      .select(col(idCol), TextAnalysis.rollingHash("norm").as("h"))
      .withColumn("p1", bitPos(col("h"), 2654435761L, 104729L))
      .withColumn("p2", bitPos(col("h"), 2246822519L, 130363L))
  }

  /** Per-document screen decisions (idCol, cand, dup) from prepared
    * fingerprints: two broadcast bit probes + the exact-verify join.
    * Stateless row-wise logic and left joins against STATIC frames —
    * which is why the streaming twin ([[bloomScreenStream]]) is this
    * exact function applied to a streaming fingerprint frame.
    */
  private[graft] def bloomScreenDecisions(batchFp: DataFrame, bits: DataFrame,
      corpusH: DataFrame, idCol: String): DataFrame =
    batchFp
      .join(broadcast(bits.select(col("p").as("b1"))),
        col("p1") === col("b1"), "left")
      .join(broadcast(bits.select(col("p").as("b2"))),
        col("p2") === col("b2"), "left")
      .withColumn("cand", col("b1").isNotNull && col("b2").isNotNull)
      // exact verify: hash-keyed join against distinct corpus
      // fingerprints — |batch| vs |corpus| keys, linear at any scale
      .join(corpusH, col("h") === col("ch"), "left")
      .withColumn("dup", col("ch").isNotNull)
      .select(col(idCol), col("h"), col("cand"), col("dup"))

  /** STREAMING twin of [[bloomScreenStats]]: screen an unbounded
    * document stream against a static corpus filter, emitting one
    * append-mode decision row (idCol, cand, dup) per document — route
    * `cand = false` straight to ingest (definitely new, no exact check
    * ever), `dup = true` to quarantine, the FP remainder to the exact
    * path. Stateless end to end: the filter tables are built ONCE from
    * the static corpus (eagerly localCheckpoint'ed — a lazy static side
    * would recompute the corpus scan every micro-batch) and each
    * micro-batch pays two broadcast probes + one keyed join, exactly
    * the batch plan. No watermark, no state store — stream-static joins
    * with a deterministic filter; BloomStreamSpec pins stream ≡ batch.
    */
  def bloomScreenStream(batchStream: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, mBits: Int): DataFrame = {
    val corpusFp = bloomFingerprints(corpus, textCol, idCol, mBits)
      .localCheckpoint()
    val bits = corpusFp
      .select(explode(array(col("p1"), col("p2"))).as("p")).distinct()
      .localCheckpoint()
    val corpusH = corpusFp.select(col("h").as("ch")).distinct()
      .localCheckpoint()
    bloomScreenDecisions(
      bloomFingerprints(batchStream, textCol, idCol, mBits), bits, corpusH,
      idCol)
      .select(col(idCol), col("cand"), col("dup"))
  }

  /** STREAMING twin of the incremental LSH near-dup path
    * ([[crossCorpusCandidates]] / q_dedup_incremental): probe an
    * unbounded document stream against a STATIC ingested corpus'
    * word-minhash profile table, emitting verified near-dup pairs
    * (idCol, ref_id, jaccard) in Append mode. Stateless stream-static
    * shape, exactly like [[bloomScreenStream]]: the corpus sig and
    * sh_set tables are built ONCE (eagerly localCheckpoint'ed), and
    * each micro-batch pays the native profile projection, the band-sig
    * explode, and two keyed stream-static joins — the batch plan,
    * applied per trigger.
    *
    * Pair-emission semantics are at-least-once: a pair colliding in k
    * bands is emitted k times (de-duplicating would need a keyed state
    * store this screen deliberately does not have); the downstream
    * materializer is set-semantic and LshScreenStreamSpec pins DISTINCT
    * stream pairs ≡ the batch [[crossCorpusCandidates]] +
    * [[jaccardFromProfiles]] composition.
    */
  def lshScreenStream(stream: DataFrame, corpus: DataFrame, textCol: String,
                      idCol: String, n: Int = 3, bands: Int = 8,
                      rowsPerBand: Int = 2, threshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    val numDigests = (numHashes + 3) / 4
    val refProf = wordDedupProfiles(corpus, textCol, idCol, n, bands, rowsPerBand)
      .localCheckpoint()
    val refSigs = refProf
      .select(col(idCol).as("ref_id"), explode(col("band_sigs")).as("bs"))
      .select(col("ref_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .localCheckpoint()
    val refSets = refProf
      .select(col(idCol).as("ref_id"), col("sh_set").as("ref_sh"))
      .localCheckpoint()
    val prof = stream
      .select(col(idCol), lower(trim(col(textCol))).as("t"))
      .filter(size(split(col("t"), "\\s+")) >= n)
      .select(col(idCol),
        graft.functions.WordMinHashProfile
          .wordMinHashProfile(col("t"), n, numDigests).as("p"))
    val bandCols = (0 until bands).map { b =>
      val members = (0 until rowsPerBand)
        .map(r => col("p.mins").getItem(b * rowsPerBand + r))
      struct(lit(b).as("band"), md5(concat(members: _*)).as("sig"))
    }
    val sSigs = prof.select(col(idCol), col("p.sh_set").as("new_sh"),
        explode(array(bandCols: _*)).as("bs"))
      .select(col(idCol), col("new_sh"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))
    sSigs.join(refSigs, Seq("band", "sig"))
      .join(refSets, Seq("ref_id"))
      .select(col(idCol), col("ref_id"),
        size(array_intersect(col("new_sh"), col("ref_sh"))).cast("long")
          .as("n_inter"),
        (size(col("new_sh")) + size(col("ref_sh"))).cast("long").as("sz"))
      .select(col(idCol), col("ref_id"),
        (col("n_inter") / (col("sz") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Temporal n-gram novelty: for each document, how much of its
    * content is NEW relative to everything ingested before it (id
    * order = arrival order). The acquisition-time mirror of
    * [[dupNgramCoverage]]: coverage asks "is this n-gram duplicated
    * anywhere", novelty asks "was it already here when this doc
    * arrived" — the curve a crawl pipeline watches to decide when a
    * source has stopped contributing.
    *
    * Exact semantics: over DISTINCT word n-grams per doc, a gram is
    * `seen` iff its minimum doc id over the corpus is < this doc's id
    * (the first carrier itself scores it novel). Output per doc:
    * distinct-gram count, seen count, novelty in integer basis points
    * (10000·(n−seen) div n). Docs with < n tokens have no grams and
    * drop out (nothing to judge).
    *
    * Plan: one shingle explode → distinct (doc, gram) → gram-keyed
    * min-id aggregate derived from the SAME frame via a window sum
    * (one exchange on gram, the bigramSurprisal trick) → doc rollup.
    * Corpus-linear shuffles only; no joins at all.
    */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val grams = wordShingles(df, textCol, idCol, n)
    val wGram = Window.partitionBy(col("shingle"))
    grams
      .withColumn("first_id", min(col(idCol)).over(wGram))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") < col(idCol), 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty_bp",
        expr("(n_grams - n_seen) * 10000 div n_grams"))
  }

  /** Exact-substring duplicate-span screen (the "dedup at the substring
    * level" the MinHash family cannot see: two long documents sharing
    * one copied paragraph have near-zero whole-doc Jaccard but are
    * still training-data duplicates).
    *
    * Alignment-free 0-mod-p fingerprinting (Manber 1994 / the
    * suffix-array-free screen behind exact-substring dedup): every
    * k-char window of the whitespace-normalized text is hashed with the
    * portable polynomial fold ([[graft.functions.RollingHash]]); a
    * window is SELECTED when its hash ≡ 0 (mod p). Selection depends
    * only on window CONTENT, so two documents sharing any substring of
    * length ≥ k select identical windows inside it regardless of
    * alignment — a shared span of length L ≥ k survives with
    * probability 1 − (1−1/p)^(L−k+1), i.e. a span twice the sampling
    * period is virtually always caught. Matching joins on the WINDOW
    * STRING itself, so a reported pair is exact by construction — the
    * hash only thins the candidate stream, it is never trusted.
    *
    * Scale shape (100 TB): the per-row projection generates and filters
    * windows INSIDE one `transform`/`filter` pair, so only ~len/p
    * fingerprints per doc ever leave the row (the ×len amplification is
    * folded before the explode). Everything after is keyed on the
    * window: one (doc, w) dedup, one window-frequency count, and a
    * window-keyed self-join whose fan-out is bounded by `maxDf`² per
    * window (boilerplate windows shared by > maxDf docs are dropped —
    * same hot-bucket discipline as the LSH screen). No all-pairs stage
    * anywhere.
    *
    * Output: (doc_a, doc_b, n_shared, first_a, first_b) — pair-distinct
    * shared-window count and the earliest shared-window offset in each
    * doc (1-based, on the normalized text).
    */
  def exactSubstringPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 40, p: Int = 8, maxDf: Int = 50): DataFrame = {
    require(k > 0 && p > 0 && maxDf > 0)
    val base = spreadByKey(df, col(idCol))
      .select(col(idCol), TextAnalysis.normalizedText(col(textCol)).as("t"))
    // selection is one O(len) Rabin-Karp pass per doc (native
    // ZeroModWindows); only the ~len/p selected positions are exploded
    // and only THEIR window strings materialized
    val wins = base
      .select(col(idCol), col("t"),
        explode(graft.functions.ZeroModWindows
          .zeroModWindows(col("t"), k, p)).as("pos"))
      .select(col(idCol), col("pos"),
        col("t").substr(col("pos"), lit(k)).as("w"))
    // within-doc repeats of the same window collapse to the earliest
    // offset — pair counts are DISTINCT shared windows by construction
    val fp = wins.groupBy(col(idCol), col("w"))
      .agg(min(col("pos")).cast("long").as("pos"))
    val hot = fp.groupBy(col("w")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") <= maxDf)
    val keep = fp.join(hot, Seq("w"))
    keep.select(col("w"), col(idCol).as("doc_a"), col("pos").as("pos_a"))
      .join(keep.select(col("w"), col(idCol).as("doc_b"), col("pos").as("pos_b")),
        Seq("w"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("pos_a")).as("first_a"), min(col("pos_b")).as("first_b"))
  }

  /** WEIGHTED (generalized) Jaccard over token-frequency vectors:
    * J_w(A,B) = Σ_t min(tf_A, tf_B) / Σ_t max(tf_A, tf_B) — the
    * multiplicity-aware refinement of set Jaccard that separates "same
    * vocabulary, same proportions" (true near-dup) from "same
    * vocabulary, wildly different emphasis" (topic siblings), which
    * set similarity cannot tell apart. Σ max is derived, never
    * joined: Σ max = tot_A + tot_B − Σ min.
    *
    * Candidate generation is a token-keyed self-join over tokens with
    * document frequency ≤ maxDf (the hot-bucket cap — stopwords would
    * otherwise quadratically dominate; a pair sharing ONLY capped
    * tokens is not found, the same observable trade as
    * prefixJaccardJoin's cap). Σ min in the verify stage runs over ALL
    * common tokens of each candidate pair — the cap prunes candidates,
    * never the arithmetic. Threshold tNum/tDen applies to J_w via the
    * integer cross-multiply; jw_permille is the one reported division.
    *
    * Scale: tf and df aggregates are token-keyed exchanges linear in
    * corpus tokens; the candidate join is Σ_{df≤maxDf} df² ≤ maxDf·Σdf;
    * verify shuffles |cand| + |tf| rows.
    */
  def weightedJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                           maxDf: Long = 100L, tNum: Int = 1,
                           tDen: Int = 2): DataFrame = {
    val tf = spreadByKey(df, col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
      .persist()
    val tot = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("tot"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfr"))
    val live = tf.join(dfreq.filter(col("dfr") <= maxDf), Seq("tok"))
    val cand = live.select(col("tok"), col(idCol).as("id_a"))
      .join(live.select(col("tok"), col(idCol).as("id_b")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val common = cand
      .join(tf.select(col(idCol).as("id_a"), col("tok"), col("tf").as("tfa")),
        Seq("id_a"))
      .join(tf.select(col(idCol).as("id_b"), col("tok"), col("tf").as("tfb")),
        Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(col("tfa"), col("tfb"))).as("smin"))
    val out = common
      .join(tot.select(col(idCol).as("id_a"), col("tot").as("tot_a")), Seq("id_a"))
      .join(tot.select(col(idCol).as("id_b"), col("tot").as("tot_b")), Seq("id_b"))
      .filter(col("smin") * tDen >=
        (col("tot_a") + col("tot_b") - col("smin")) * tNum)
      .select(col("id_a"), col("id_b"), col("smin"), col("tot_a"), col("tot_b"),
        expr("smin * 1000 div (tot_a + tot_b - smin)").as("jw_permille"))
    graft.core.CacheScope.releaseAfterUse(out, tf)
  }

  /** INCREMENTAL connected components: fold a new batch of near-dup
    * pairs into an existing (id, component) labeling without
    * recomputing the old batch's pair discovery. The old labeling is
    * itself a star-shaped edge set (every member already points at its
    * representative), so re-running label propagation over
    * old-labels ∪ new-pairs converges in O(new diameter) rounds — the
    * old components collapse in round one through their hub edges.
    * Result is IDENTICAL to running CC over the union of both batches'
    * pairs (same least-id representatives; asserted oracle-side by
    * q_cc_incremental's recursive-CTE over the full pair set, and in
    * DedupSpec on constructed cross-batch merges).
    *
    * This is the 100 TB ingest shape: pair discovery (LSH/prefix join)
    * runs ONLY on new × (new ∪ corpus) — the expensive part stays
    * incremental — while the closure reuses yesterday's labels as
    * shortcut edges instead of yesterday's raw pairs.
    */
  def incrementalComponents(oldLabels: DataFrame, newPairs: DataFrame,
                            idCol: String, maxIter: Int = 20): DataFrame = {
    val oldEdges = oldLabels
      .select(col(idCol).as("id_a"), col("component").as("id_b"))
      .filter(col("id_a") =!= col("id_b")) // self-loops add nothing
    connectedComponents(
      oldEdges.unionByName(newPairs.select(col("id_a"), col("id_b"))),
      idCol, maxIter)
  }

  /** Hamming near-duplicate pairs over a 64-bit fingerprint (e.g.
    * [[graft.functions.ImageDHash]] or SimHash) held as two
    * unsigned-32-bit halves: band the 64 bits into four 16-bit keys,
    * equi-join on (band index, band value), verify candidates with the
    * exact popcount distance. The pigeonhole theorem makes this join
    * EXACT, not approximate: a pair within Hamming distance d ≤ 3
    * differs in at most 3 of the 4 bands, so at least one band matches
    * and the pair is guaranteed into the candidate set — zero false
    * negatives by construction (the `require` pins the contract; wider
    * radii need more bands, not a silent recall loss).
    *
    * Scale: |bands| = 4n rows through one 16-bit-keyed exchange; a
    * band value shared by k fingerprints contributes k² candidates —
    * the familiar hot-bucket shape, bounded in practice because a
    * 16-bit band has 65,536 values and near-constant fingerprint bits
    * concentrate only when the corpus really does contain mass
    * duplicates (which is the signal, not noise). Verify is a
    * projection per candidate (two XOR+popcounts).
    */
  def hammingNearDuplicates(df: DataFrame, idCol: String, hiCol: String,
                            loCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band pigeonhole is exact only for maxHamming <= 3")
    val h = df.select(col(idCol), col(hiCol).cast("long").as("h_hi"),
      col(loCol).cast("long").as("h_lo"))
    val bands = h.select(col(idCol), col("h_hi"), col("h_lo"),
      posexplode(array(
        col("h_lo").bitwiseAND(lit(0xffffL)), shiftright(col("h_lo"), 16),
        col("h_hi").bitwiseAND(lit(0xffffL)), shiftright(col("h_hi"), 16)))
        .as(Seq("band_idx", "band_val")))
    val cand = bands
      .select(col("band_idx"), col("band_val"), col(idCol).as("id_a"),
        col("h_hi").as("hi_a"), col("h_lo").as("lo_a"))
      .join(bands.select(col("band_idx"), col("band_val"),
        col(idCol).as("id_b"), col("h_hi").as("hi_b"),
        col("h_lo").as("lo_b")), Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("hi_a"), col("lo_a"),
        col("hi_b"), col("lo_b"))
      .distinct()
    cand
      .withColumn("hamming",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Winnowing-fingerprint duplicate pairs (Schleimer et al. SIGMOD'03
    * — see [[graft.functions.WinnowFingerprints]] for the selection
    * rule and its guarantee): documents sharing ≥ minShared winnowed
    * k-gram hashes, with the shared-fingerprint count as the match
    * strength. The matching theorem makes the recall statement exact:
    * any copied substring of length ≥ w + k − 1 chars yields at least
    * one shared fingerprint, so minShared = 1 catches every copy that
    * long (the query uses a higher bar only to rank).
    *
    * Scale shape: selection happens INSIDE the per-row expression
    * (density ≈ 2/(w+1)), so only selected fingerprints are exploded —
    * never the full k-gram stream. The candidate join is equi on the
    * hash with the same df-cap discipline as [[exactSubstringPairs]]:
    * a fingerprint shared by > maxDf documents is boilerplate and is
    * dropped before the pair join, bounding any hash's contribution at
    * maxDf² pairs.
    */
  def winnowDuplicates(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 8, w: Int = 4, maxDf: Long = 20L,
                       minShared: Long = 2L): DataFrame = {
    // spreadByKey (r15): the winnow kernel (per-doc k-gram hashing +
    // window minima) otherwise runs inside the single-split scan task.
    val fps = spreadByKey(df, col(idCol)).select(col(idCol),
        explode(graft.functions.WinnowFingerprints
          .winnowFingerprints(col(textCol), k, w)).as("fp"))
      .select(col(idCol), col("fp.h").as("h"))
      .distinct()
    val freq = fps.groupBy(col("h")).agg(count(lit(1)).as("hdf"))
      .filter(col("hdf") <= maxDf)
    val keyed = fps.join(freq, Seq("h")).select(col("h"), col(idCol))
    keyed.select(col("h"), col(idCol).as("id_a"))
      .join(keyed.select(col("h"), col(idCol).as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
