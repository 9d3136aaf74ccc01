package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (SURVEY.md §2.3 E3):
  * brute-force cosine top-k as the exact baseline, and a bucketed
  * (sign-LSH / IVF-style) variant as the scale path.
  *
  * All vector math is higher-order-function expressions over
  * array<double> — codegen-adjacent, no UDFs, and the left-fold
  * accumulation order is array order, which a DuckDB `list_reduce`
  * oracle reproduces bit-for-bit.
  *
  * Scale notes: brute force is O(|queries|·|corpus|) — correct tool when
  * |queries| is small (broadcast queries, stream the corpus; only each
  * task's per-query top-k survivors shuffle). For corpus×corpus jobs
  * use the bucketed variant: candidates are generated by an equi-join
  * on bucket id, so the plan is a shuffle-join keyed by bucket, never
  * a cross product. More planes → smaller buckets → higher recall
  * loss; pick per workload.
  */
object Similarity {

  /** Cast an array<float> column to array<double> (floats widen exactly;
    * keeps all downstream arithmetic in one well-defined precision).
    */
  def toDoubleVec(c: Column): Column = c.cast("array<double>")

  /** Sequential-fold dot product of two array<double> columns — the
    * native [[graft.functions.DotProduct]] expression (codegen'd loop,
    * bit-identical to the `aggregate(zip_with(...))` HOF fold).
    */
  def dot(a: String, b: String): Column =
    graft.functions.VectorFunctions.vec_dot(col(a), col(b))

  /** Euclidean norm — same fold over squared elements (dot(v, v)). */
  def norm(a: String): Column = sqrt(dot(a, a))

  /** cosine(a, b) = dot / (|a|·|b|), written exactly as the oracle does. */
  def cosine(a: String, b: String): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector: (query_id,
    * cand_id, sim, rank) under (sim DESC, cand_id ASC), rank 1-based
    * int, self-matches excluded; a NULL sim (null or length-mismatched
    * embedding) ranks after every number.
    *
    * Brute force is for a bounded query batch: the queries are
    * broadcast and every corpus row is scored against each of them, so
    * each query's group is the whole corpus — the heavy-group regime
    * of [[Ranking.topKPerGroup]], which ranks it map-side.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms precomputed once per row, not once per pair — the per-pair
    // work drops from 3 array folds to 1 (values are bit-identical:
    // same fold, same division)
    val c = corpus.select(col(idCol).as("cand_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cnorm", norm("cv"))
    val q = queries.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qnorm", norm("qv"))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        (dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
    Ranking.topKPerGroup(sims, Seq(col("query_id")),
      Seq(desc("sim"), asc("cand_id")), k)
  }

  /** Sign-LSH bucket id from the first `planes` coordinates (a
    * deterministic stand-in for learned IVF centroids: same plan shape,
    * an equi-join on bucket). vec[i] > 0 contributes bit i.
    */
  def signBucket(vecCol: String, planes: Int): Column =
    (0 until planes)
      .map(i => when(element_at(col(vecCol), i + 1) > 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Approximate top-k: candidates restricted to the query's bucket.
    * Trades recall for turning the cross product into an equi-join —
    * the 100 TB-safe plan shape.
    *
    * `multiProbe` additionally probes the `planes` buckets at Hamming
    * distance 1 from the query's own (the same probe set
    * [[approxNearestNeighbor]] uses): a true neighbor differing on ONE
    * sign plane is recovered at (planes+1)× the candidate volume. The
    * r12 simsearch sweep measured why this matters at scale — under the
    * planes-grow-with-the-corpus discipline, single-probe recall@10
    * decays with planes (0.38 → 0.28 across 100× corpus on the
    * recall-adversarial uniform workload) because requiring ALL plane
    * signs to agree gets strictly harder as planes grow; the probe set
    * growing WITH planes is what holds recall. Queries are the
    * broadcast side, so the probe explosion multiplies the tiny side
    * only.
    */
  /** `maxBucketCandidates`: the E2 cap discipline applied to the E3
    * search side. Sign-LSH buckets are DATA-DEPENDENT, and the r13
    * clustered-fixture sweep measured the failure mode: planted
    * clusters concentrate the corpus into few buckets, so per-bucket
    * candidate volume rides cluster size (10M clustered walls 8.7-8.8 s
    * vs uniform's 0.6-0.8 at identical planes). The cap keeps the
    * `cap` LOWEST-cand_id rows per bucket — deterministic and
    * oracle-replayable, honestly biased (a fixed arbitrary subset, the
    * price of cross-engine determinism) — bounding join fan-out at
    * Σ min(|bucket|, cap)·probes whatever the skew.
    *
    * KNOW THE PRICE BEFORE REACHING FOR IT — the r13 sweep measured
    * both directions. The rank needs a full corpus-wide bucket-keyed
    * exchange AND per-bucket sort, and for an INLINE small-query-batch
    * search that sort costs more than the skew it removes: at 10M
    * uniform the capped form ran 6.5 s vs 1.25 s uncapped with ZERO
    * rows dropped (cap 4096 > the 2441 average occupancy — the delta
    * is purely the sort), and at 10M clustered 16.5 s vs 8.8 s with
    * recall 0.77 → 0.54 (lowest-id keeps cut true neighbors). Its
    * domain is the MATERIALIZED-INDEX shape: cap once, persist the
    * capped table, amortize across query batches — then the sort is a
    * one-off build cost (the ivfAssign amortization argument) and
    * every probe batch inherits the bound. For inline search on
    * clustered data the structural answer remains IVF (lists adapt,
    * nlist grows √N).
    */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 3,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   multiProbe: Boolean = false,
                   maxBucketCandidates: Option[Int] = None): DataFrame =
    lshProbe(lshBucketTable(corpus, planes, maxBucketCandidates, idCol, vecCol),
      queries, k, planes, multiProbe, idCol, vecCol)

  /** LSH index BUILD — the [[bucketedTopK]] candidate side split out as
    * a materializable table (the r13 verdict's constructive half of the
    * capped-LSH negative result): (cand_id, cv, cnorm, bucket), capped
    * at the `maxBucketCandidates` LOWEST-cand_id rows per bucket when
    * set. The r13 sweep measured that the cap's corpus-wide bucket-keyed
    * exchange + sort LOSES for inline search (10M uniform: 6.5 s capped
    * vs 1.25 s, zero rows even dropped); its domain is exactly this
    * split — pay the rank ONCE, persist the capped table, and every
    * probe batch inherits the Σ min(|bucket|, cap)·probes fan-out bound
    * whatever the corpus skew. [[bucketedTopK]] delegates here, so the
    * inline and indexed paths cannot drift (LshIndexSpec pins the
    * equality over a persisted build, capped and uncapped).
    */
  def lshBucketTable(corpus: DataFrame, planes: Int,
      maxBucketCandidates: Option[Int] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c0 = corpus.select(col(idCol).as("cand_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("bucket", signBucket("cv", planes))
      .withColumn("cnorm", norm("cv"))
    maxBucketCandidates match {
      case Some(cap) =>
        val bw = Window.partitionBy(col("bucket")).orderBy(asc("cand_id"))
        c0.withColumn("_bn", row_number().over(bw))
          .filter(col("_bn") <= cap).drop("_bn")
      case None => c0
    }
  }

  /** LSH PROBE over a built bucket table ([[lshBucketTable]] output,
    * usually persisted): the query side of [[bucketedTopK]] — bucket
    * the broadcast queries with the SAME `planes` the table was built
    * with, equi-join on bucket (self + Hamming-1 flips under
    * `multiProbe`), exact cosine rank inside the candidates. Per-batch
    * cost is Σ_probed |bucket| candidate rows — independent of the
    * build's rank/sort, which is the amortization the ScaleSweep's
    * lshidx_build/probe columns price.
    */
  def lshProbe(bucketTable: DataFrame, queries: DataFrame, k: Int,
      planes: Int, multiProbe: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q0 = queries.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qb", signBucket("qv", planes))
      .withColumn("qnorm", norm("qv"))
    // a candidate lives in exactly one bucket and the probe list is
    // distinct buckets, so no (query, cand) pair can arrive twice —
    // no dedup pass needed after the join
    val q =
      if (!multiProbe) q0.withColumn("bucket", col("qb"))
      else q0.withColumn("bucket", explode(array(
        col("qb") +: (0 until planes).map(i =>
          col("qb").bitwiseXOR(lit(1 << i))): _*)))
    val sims = bucketTable.join(broadcast(q), Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        (dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("sim"), asc("cand_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Nearest neighbor (k=1) for every vector in the corpus — the
    * embedding-cosine near-dup primitive (E2): pairs whose sim exceeds a
    * threshold are near-duplicates; emitting the top-1 row per vector
    * keeps the output total and lets callers threshold downstream.
    *
    * Exact all-pairs NN is inherently O(n²) compute; what must NOT be
    * O(n²) is memory or any single shuffle. The plan here is a
    * grid-blocked equi-join: candidates land in row-block `ci`
    * (id mod grid) and are replicated across all `grid` column-blocks;
    * queries land in column-block `qj` and are replicated across all
    * row-blocks. Joining on the composite (ci, qj) key covers every
    * pair exactly once through a plain shuffle hash/sort-merge join —
    * no broadcast of the corpus, no BroadcastNestedLoopJoin, shuffle
    * volume n·grid per side, and per-task memory bounded by
    * |corpus|/grid. At cluster scale, grow `grid` with the executor
    * count (task parallelism is grid²); for sub-quadratic compute use
    * [[approxNearestNeighbor]] instead.
    */
  def nearestNeighbor(corpus: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      grid: Int = 8): DataFrame = {
    // top-1 as a max(struct) aggregation instead of a row_number window:
    // partial aggregation folds each join cell to one candidate per
    // query map-side, so the final shuffle is |queries| rows, not
    // |pairs|. Struct ordering (sim desc via max, then -cand_id)
    // reproduces a window's (sim DESC, cand_id ASC) tie-break exactly.
    // explicit repartition on the cell key: (a) both sides arrive
    // hash-partitioned on the join keys, so the join itself adds no
    // exchange; (b) the user-specified partition count keeps AQE from
    // coalescing what it sees as a tiny shuffle (bytes are small, but
    // every cell expands to |corpus/grid|² dot products downstream)
    val cells = sequence(lit(0), lit(grid - 1))
    val c = corpus.select(col(idCol).as("cand_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cnorm", norm("cv"))
      .withColumn("ci", pmod(col("cand_id"), lit(grid)))
      .withColumn("qj", explode(cells))
      .repartition(grid * grid, col("ci"), col("qj"))
    val q = corpus.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qnorm", norm("qv"))
      .withColumn("qj", pmod(col("query_id"), lit(grid)))
      .withColumn("ci", explode(cells))
      .repartition(grid * grid, col("ci"), col("qj"))
    c.join(q, Seq("ci", "qj"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        (dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("sim"), (-col("cand_id")).as("inv_id"))).as("best"))
      .select(col("query_id").as(idCol), (-col("best.inv_id")).as("neighbor_id"),
        col("best.sim").as("sim"))
  }

  /** IVF-style approximate top-k: a coarse quantizer (nlist centroid
    * vectors) partitions the corpus into inverted lists; each query
    * probes its `nprobe` nearest lists and ranks exact cosine only
    * inside them. Same plan family as [[bucketedTopK]] — candidates via
    * a centroid-id equi-join — but the buckets adapt to the data
    * (nearest-centroid assignment) instead of fixed sign planes, and
    * `nprobe` recovers recall the way multi-probe does for LSH.
    *
    * Centroids here are the `nlist` lowest-id corpus vectors BY RANK
    * (orderBy + limit, so sparse or non-zero-based id spaces still yield
    * exactly nlist centroids) — deterministic (oracle-reproducible) and
    * the plan shape is identical to trained k-means centroids, which a
    * production run would learn offline and feed in the same way.
    * Assignment is a broadcast of the nlist-row centroid table against
    * the corpus (the sanctioned small broadcast), then one shuffle per
    * id-join; nothing scales with corpus².
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 8, nprobe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, nlist, idCol, vecCol)
    ivfProbe(ivfAssign(corpus, cents, idCol, vecCol), cents, queries,
      k, nprobe, idCol, vecCol)
  }

  /** The IVF coarse quantizer: the `nlist` lowest-id corpus vectors by
    * rank as (centroid_id, centv, centnorm) — see [[ivfTopK]] for why
    * rank-select (deterministic, oracle-reproducible, same plan shape
    * as trained centroids fed in). O(nlist) output; training cost is a
    * top-nlist sort, NOT a corpus-scale iteration.
    */
  def ivfCentroids(corpus: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).as("centroid_id"), toDoubleVec(col(vecCol)).as("centv"))
      .withColumn("centnorm", norm("centv"))

  /** SAMPLED k-means-trained coarse quantizer — the data-adaptive
    * upgrade of [[ivfCentroids]], trained on 1/`sampleMod` of the
    * corpus so training cost is decoupled from corpus size (the
    * mini-batch discipline: at production scale pick sampleMod so the
    * sample is ~10⁵-10⁶ vectors; centroid quality needs sample
    * REPRESENTATIVENESS, not the full corpus). Deterministic and
    * oracle-reproducible end to end:
    *   - sample = rows with id ≡ 0 (mod sampleMod) — no RNG;
    *   - seeds = the nlist lowest-id sample vectors (rank-select);
    *   - ONE Lloyd assignment in exact integer arithmetic
    *     (floor(x·scale) quantization, BIGINT squared-L2, argmin ties
    *     to the lowest seed id — [[graft.operators.Clustering]]'s
    *     kmeansRefine pattern, same overflow envelope);
    *   - centroid_j = Σqv/(n·scale) per dimension — an exact-integer
    *     IEEE division, identical cross-engine.
    * Output schema matches [[ivfCentroids]] (centroid_id = seed id,
    * centv, centnorm) so it feeds [[ivfAssign]]/[[ivfProbe]]
    * unchanged. A seed whose cluster loses every member to a
    * duplicate-vector tie yields no row (nlist is an upper bound).
    * Plan shape: no corpus-scale relation beyond the sample's
    * dimension explode, and nothing is ever sample×sample — but the
    * DOMINANT training term is the pos-keyed broadcast join, which
    * expands to sample·nlist·dim intermediate rows before the
    * (vid, cid) distance aggregation (r13 ADVICE: at the sweep's
    * 10M-corpus point — sample 156k, nlist 198, dim 16 — that is
    * ~495M rows; this is the term the sweep's ivft training column
    * prices). Size `sampleMod` against sample·nlist·dim, not sample
    * row count alone: doubling nlist doubles training compute at
    * fixed sample. Seeds are a broadcast of nlist·dim rows; the
    * full-corpus N·nlist term stays where it belongs, in
    * [[ivfAssign]].
    */
  def ivfKmeansCentroids(corpus: DataFrame, nlist: Int, sampleMod: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Int = 1000): DataFrame = {
    require(sampleMod >= 1, "sampleMod must be >= 1")
    val samp = corpus.filter(pmod(col(idCol), lit(sampleMod)) === 0)
      .select(col(idCol).as("vid"), toDoubleVec(col(vecCol)).as("v"))
    val q = samp.select(col("vid"), posexplode(col("v")))
      .select(col("vid"), col("pos"),
        floor(col("col") * scale).cast("long").as("qv"))
    val seedQ = samp.orderBy(col("vid")).limit(nlist)
      .select(col("vid").as("cid"), posexplode(col("v")))
      .select(col("cid"), col("pos"),
        floor(col("col") * scale).cast("long").as("qc"))
    val asg = q.join(broadcast(seedQ), Seq("pos"))
      .groupBy(col("vid"), col("cid"))
      .agg(sum((col("qv") - col("qc")) * (col("qv") - col("qc"))).as("dist"))
      .groupBy(col("vid"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("vid"), col("best.cid").as("cid"))
    q.join(asg, Seq("vid"))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("qv")).cast("double") / (count(lit(1)) * scale)).as("cv"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pcs"))
      .select(col("cid").as("centroid_id"),
        transform(col("pcs"), p => p.getField("cv")).as("centv"))
      .withColumn("centnorm", norm("centv"))
  }

  /** IVF index BUILD: inverted-list assignment of every corpus vector
    * to its nearest centroid — ONE codegen'd argmax per row over the
    * scalar-broadcast centroid array (NearestCentroid — id-ascending
    * via sort_array, strict-> ties = max(struct(csim, -id)) exactly).
    * The previous crossJoin → max-struct → id-join-back form
    * materialized |corpus|×nlist rows plus an aggregate exchange plus
    * a corpus self-join; measured at the r12 simsearch 10M×198 point
    * that was 2B intermediate rows. Now the assignment is a projection.
    *
    * This is the N·nlist term of the IVF design (~N^1.5 under the
    * √N nlist sizing) — a ONE-OFF build cost: production materializes
    * the output (the inverted lists) once and amortizes it across
    * every query batch, which is why it is exposed separately from
    * [[ivfProbe]] instead of living only inside [[ivfTopK]]. Output:
    * (cand_id, cv, cnorm, centroid_id).
    */
  def ivfAssign(corpus: DataFrame, cents: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cnorm", norm("cv"))
    c.crossJoin(broadcast(centroidArray(cents)))
      .withColumn("centroid_id", graft.functions.VectorFunctions
        .nearest_centroid(col("cv"), col("cnorm"), col("cents")))
      .drop("cents")
  }

  /** IVF PROBE over a built index ([[ivfAssign]] output): each query
    * ranks its `nprobe` nearest centroids (broadcast nlist-row table),
    * then exact cosine only inside those lists via the centroid-id
    * equi-join. Per-query cost ~ nprobe·N/nlist candidate rows —
    * independent of the build term, which is the amortization claim
    * the ScaleSweep's build_sec/probe_sec columns price.
    */
  def ivfProbe(listed: DataFrame, cents: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queryVectors(queries, idCol, vecCol)
    val probes = coarseProbes(q, cents, nprobe).join(q, Seq("query_id"))
    val sims = listed.join(probes, Seq("centroid_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        (dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("sim"), asc("cand_id"))
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Centroid table → the id-ascending array<struct<centroid_id,
    * centv, centnorm>> (one row) that NearestCentroid and the in-row
    * stream probes read off a broadcast.
    */
  private def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(
      struct(col("centroid_id"), col("centv"), col("centnorm")))).as("cents"))

  /** Query vectors as (query_id, qv array<double>, qnorm, extra…). */
  private def queryVectors(queries: DataFrame, idCol: String,
                           vecCol: String, extra: Column*): DataFrame =
    queries.select(Seq(col(idCol).as("query_id"),
        toDoubleVec(col(vecCol)).as("qv")) ++ extra: _*)
      .withColumn("qnorm", norm("qv"))

  /** Each query's `nprobe` nearest coarse centroids as (query_id,
    * centroid_id, carry…): cosine against the broadcast nlist-row
    * centroid table, ranked (csim desc, centroid_id asc) — the list
    * restriction of [[ivfProbe]] and [[ivfPqProbe]]. `q` is
    * [[queryVectors]] output; the `carry` columns are evaluated on each
    * (query, centroid) row and kept for the probed ones.
    */
  private def coarseProbes(q: DataFrame, cents: DataFrame, nprobe: Int,
                           carry: Column*): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(desc("csim"), asc("centroid_id"))
    q.crossJoin(broadcast(cents))
      .select(Seq(col("query_id"), col("centroid_id"),
        (graft.functions.VectorFunctions.vec_dot(col("qv"), col("centv"))
          / (col("qnorm") * col("centnorm"))).as("csim")) ++ carry: _*)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= nprobe)
      .drop("csim", "rn")
  }

  /** Query vectors with their `nprobe` probed list ids ranked IN-ROW
    * (`probes` array<bigint>): the centroid array rides a scalar
    * broadcast, each query row scores all centroids in a transform()
    * and keeps its nprobe best with the bounded-heap
    * [[graft.functions.StructArrayTopK]] under [[coarseProbes]]' (csim
    * desc, centroid_id asc) order — a projection, so it stays
    * stateless on a stream.
    */
  private def inRowProbes(cents: DataFrame, queries: DataFrame, nprobe: Int,
                          idCol: String, vecCol: String): DataFrame =
    queryVectors(queries, idCol, vecCol)
      .withColumn("one", lit(1))
      .join(broadcast(centroidArray(cents).withColumn("one", lit(1))), Seq("one"))
      .drop("one")
      .withColumn("probes", transform(
        graft.functions.TopKStruct.arrayTopK(
          filter(
            transform(col("cents"), c => struct(
              (graft.functions.VectorFunctions.vec_dot(col("qv"), c.getField("centv"))
                / (col("qnorm") * c.getField("centnorm"))).as("csim"),
              c.getField("centroid_id").as("centroid_id"))),
            s => s.getField("csim").isNotNull),
          nprobe, true, false),
        s => s.getField("centroid_id")))
      .drop("cents")

  /** Group a built IVF index ([[ivfAssign]] output) into ONE ROW PER
    * INVERTED LIST: (centroid_id, list array<struct<cand_id, cv,
    * cnorm>>), cand_id-ascending. This is the persisted-index layout
    * [[ivfProbeStream]] needs to keep the per-query top-k a pure
    * projection: all of a probed list's candidates arrive on one row.
    *
    * Row size is N/nlist vectors — bounded by LIST size, not corpus
    * size; under the √N nlist discipline that is 16√N doubles·dim per
    * row (~6 MB at 10M×16). At corpora where a list row outgrows
    * comfortable row size, shard each list into fixed-size segment
    * rows (an extra `shard` join key; per-segment top-k still merges
    * in-row per shard and the cross-shard merge is a k-bounded
    * aggregation) — the flat [[ivfProbe]] remains the batch path
    * either way.
    */
  def ivfListGroups(listed: DataFrame): DataFrame =
    listed.groupBy(col("centroid_id"))
      .agg(array_sort(collect_list(
        struct(col("cand_id"), col("cv"), col("cnorm")))).as("list"))

  /** Incremental IVF index maintenance — UPSERT a delta of vectors into
    * a built index ([[ivfAssign]] output) WITHOUT rebuilding it. This
    * is the daily-ingest operation at corpus scale: re-assigning 100 TB
    * because 0.1% of it changed is the wrong plan, so the delta pays
    * only its OWN nearest-centroid assignment (a codegen'd projection
    * over the broadcast centroid array, [[ivfAssign]]), and the merge
    * is replace-by-id — rows of `index` whose id reappears in `delta`
    * are dropped (latest wins), then the assigned delta is unioned in.
    *
    * Plan: with `broadcastDelta` (default), the anti-join's build side
    * is the delta's id column only, so the corpus-scale index is NEVER
    * shuffled — the whole upsert is one broadcast anti-join plus the
    * delta's assignment projection, both embarrassingly parallel over
    * the index's existing layout (a bucketed/partitioned index keeps
    * its layout through the filter). Past broadcast-sized deltas set
    * it false: the anti-join becomes a shuffle join on cand_id, which
    * a cand_id-bucketed production index makes one-sided. Centroids
    * are FIXED inputs here by design — drifting centroids are an
    * offline retrain decision, and [[ivfListGroups]]' occupancy audit
    * (`q_ivf_balance`) is the signal for it; after retrain, rebuild.
    * Output schema = [[ivfAssign]] (cand_id, cv, cnorm, centroid_id),
    * so probes, list-grouping, and sharding compose unchanged.
    */
  def ivfUpsert(index: DataFrame, cents: DataFrame, delta: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastDelta: Boolean = true): DataFrame = {
    val d = ivfAssign(delta, cents, idCol, vecCol)
    val ids = d.select(col("cand_id"))
    val keep = index.join(if (broadcastDelta) broadcast(ids) else ids,
      Seq("cand_id"), "left_anti")
    keep.unionByName(d.select(keep.columns.map(col).toIndexedSeq: _*))
  }

  /** Predicate-FILTERED IVF probe: approximate top-k restricted to
    * candidates whose id appears in `allowed` (the predicate evaluated
    * on a metadata table — e.g. documents WHERE lang = 'en' — joined
    * back by id). The filter is applied BEFORE ranking (pre-filter):
    * post-filtering a plain top-k drops below k results whenever the
    * neighborhood is predicate-sparse — with selectivity s, an
    * unfiltered top-k yields only ~s·k survivors, so the correct
    * operator prunes the lists first and ranks among survivors
    * (IvfLifecycleSpec pins the divergence). Queries and the coarse
    * quantizer are NOT filtered: list geometry is a corpus-wide
    * artifact, and a query need not satisfy its own predicate.
    *
    * Plan: one left-semi join of the index against the allowed-id
    * column — broadcast under `broadcastAllowed` (default; an id
    * column of even 10⁸ rows is broadcast-marginal, and selective
    * predicates are far smaller), shuffle-on-id otherwise (one-sided
    * for a cand_id-bucketed index). The semi-join SHRINKS the probe's
    * candidate volume — filtered search is cheaper than unfiltered,
    * never a full-scan fallback. Composes with any downstream probe
    * since the output layout is unchanged.
    */
  def ivfProbeFiltered(listed: DataFrame, cents: DataFrame,
      queries: DataFrame, allowed: DataFrame, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastAllowed: Boolean = true): DataFrame = {
    val ids = allowed.select(col(allowed.columns.head).as("cand_id"))
    val pruned = listed.join(if (broadcastAllowed) broadcast(ids) else ids,
      Seq("cand_id"), "left_semi")
    ivfProbe(pruned, cents, queries, k, nprobe, idCol, vecCol)
  }

  /** STREAMING IVF probe (r13 verdict #4 — E3's streaming twin): a
    * stream of query vectors probes a PERSISTED index via stream-static
    * equi-joins, entirely STATELESS — no state store, no watermark, so
    * stream ≡ batch [[ivfProbe]] by construction across any micro-batch
    * split (AnnStreamSpec asserts it, row-for-row).
    *
    * How the per-query top-k stays stateless: aggregations are what
    * force state onto a streaming plan, so every cross-row step is
    * restructured to arrive on one row —
    *   1. centroid ranking: the nlist-row centroid table rides a scalar
    *      broadcast array ([[ivfAssign]]'s pattern); each query row
    *      scores all centroids in a transform() and picks its nprobe
    *      probes with the bounded-heap
    *      [[graft.functions.StructArrayTopK]] under the SAME
    *      (csim desc, centroid_id asc) order [[ivfProbe]]'s window
    *      uses — a projection;
    *   2. candidate fetch: one stream-static LEFT equi-join per probe
    *      slot against the [[ivfListGroups]] layout (nprobe is small
    *      and fixed), so all candidate lists land ON the query row;
    *   3. rank: flatten + per-row cosine transform + StructArrayTopK +
    *      posexplode — rank IS array position. The heap is O(L·log k)
    *      primitive compares; the array_sort-with-comparator-lambda
    *      composition it replaced was O(L·log L) INTERPRETED evals and
    *      measured 262 query-rows/s at ~2.5k candidates/query.
    * Contract matches [[ivfProbe]] for finite sims; NULL sims
    * (null/length-mismatched embeddings) are EXCLUDED here, where
    * [[ivfProbe]]'s window ranks them last: the fused kernel drops
    * them inside the list scan. Works on a batch query DataFrame too
    * (nothing here is streaming-only).
    *
    * Scale: the static side is the materialized index (built once by
    * [[ivfCentroids]]/[[ivfKmeansCentroids]] + [[ivfAssign]] +
    * [[ivfListGroups]], amortized across the stream's whole lifetime);
    * per query-row cost is the [[ivfProbe]] bound, ~nprobe·N/nlist
    * cosine folds. The centroid array broadcast is nlist·dim doubles.
    */
  def ivfProbeStream(listGroups: DataFrame, cents: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = inRowProbes(cents, queries, nprobe, idCol, vecCol)
    // The static index side MUST be broadcast-pinned: at list rows of
    // ~N/nlist vectors the groups table clears the 10 MB
    // autoBroadcastJoinThreshold long before it stops being the small
    // side, and the SMJ fallback is catastrophic — join i+1 reshuffles
    // the stream side WITH join i's attached list arrays on every row
    // (measured: the 100k-corpus × 100k-query StreamBench ann point
    // spilled >80 GB and died on disk; 20k worked only because the
    // arrays were 5× smaller). Broadcast keeps the heavy arrays on the
    // build side; joined rows flow straight into the fused kernel and
    // never hit a shuffle. Bound: the broadcast is the whole index
    // (~corpus bytes) — past a few GB (Spark's 8 GB broadcast ceiling,
    // and one full copy per executor before that), switch to
    // [[ivfProbeStreamSharded]], which replaces the broadcast with a
    // co-partitioned cached index and slim stream-side exchanges, or
    // to the batch [[ivfProbe]], whose flat join shuffles slim rows.
    val joined = (0 until nprobe).foldLeft(q) { (df, i) =>
      val g = listGroups.select(col("centroid_id").as(s"_c$i"),
        col("list").as(s"_l$i"))
      df.withColumn(s"_p$i",
          when(size(col("probes")) > i, element_at(col("probes"), i + 1)))
        .join(broadcast(g), col(s"_p$i") === col(s"_c$i"), "left_outer")
    }
    // per-list fused kernel (score + self/null filter + bounded heap in
    // one primitive loop — CosineTopK), then a k-bounded merge across
    // the ≤ nprobe·k survivors. Lists partition the corpus, so merging
    // per-list top-ks IS the global top-k — no candidate appears twice.
    val listTops = (0 until nprobe).map(i =>
      graft.functions.VectorFunctions.cosine_topk(col("qv"), col("qnorm"),
        col("query_id"), col(s"_l$i"), k))
    joined
      .withColumn("top", graft.functions.TopKStruct.arrayTopK(
        flatten(filter(array(listTops: _*), a => a.isNotNull)),
        k, true, false))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.cand_id").as("cand_id"),
        col("col.sim").as("sim"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Shard layout for [[ivfProbeStreamSharded]]: the inverted-list
    * table hash-partitioned by `centroid_id`. Callers persist THIS
    * frame (MEMORY_AND_DISK for corpus-scale lists) so every
    * micro-batch's probe joins read the co-partitioned cache instead
    * of re-shuffling the index — InMemoryTableScan preserves the
    * HashPartitioning, so only the slim stream side exchanges per
    * batch. `shards` defaults to the session's shuffle partitioning
    * (which the join's stream side will match); size it so one shard's
    * lists fit a task's hash-map budget (~N/shards vectors).
    */
  def ivfShardedIndex(listGroups: DataFrame, shards: Int = 0): DataFrame =
    if (shards > 0) listGroups.repartition(shards, col("centroid_id"))
    else listGroups.repartition(col("centroid_id"))

  /** SHARDED streaming IVF probe — [[ivfProbeStream]] without the
    * whole-index broadcast (its documented bound: the index collects to
    * the driver and ships to every executor, capping out at
    * broadcast-sized corpora — the r14 verdict's one open scale edge).
    * Identical semantics and kernels; only the join strategy changes:
    *   - static side: the [[ivfShardedIndex]] layout (hash-partitioned
    *     by centroid_id, persisted by the caller) — each per-probe join
    *     reads the co-partitioned cache, so a task builds a hash map of
    *     ITS shard only (~N/shards vectors), never the whole index;
    *     the shuffle_hash hint keeps the per-batch static-side work a
    *     hash-map build instead of an SMJ's full index sort;
    *   - stream side: nprobe sequential slim-row exchanges (query_id,
    *     qv, qnorm, probes, accumulated per-list top-ks). The measured
    *     r14 spill death (80 GB) came from reshuffling stream rows
    *     CARRYING joined list arrays; here each probe's list is folded
    *     into its ≤k-entry top-k struct array IN THE SAME SELECT and
    *     dropped before the next exchange, so no exchange ever carries
    *     a list.
    * Stateless like the unsharded form (append mode, no watermark);
    * works on a batch query frame too. At 1000 executors: index shards
    * stay resident where they were cached, per-batch cost = nprobe
    * slim exchanges + one hash build per shard — no driver collect, no
    * 8 GB broadcast ceiling, no per-executor whole-index copy.
    */
  def ivfProbeStreamSharded(shardedGroups: DataFrame, cents: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = inRowProbes(cents, queries, nprobe, idCol, vecCol)
    val joined = (0 until nprobe).foldLeft(q) { (df, i) =>
      val g = shardedGroups.select(col("centroid_id").as(s"_c$i"),
        col("list").as(s"_l$i")).hint("shuffle_hash")
      df.withColumn(s"_p$i",
          when(size(col("probes")) > i, element_at(col("probes"), i + 1)))
        .join(g, col(s"_p$i") === col(s"_c$i"), "left_outer")
        // fold the probed list into its bounded top-k BEFORE the next
        // probe's exchange — the whole point of the sharded layout
        .withColumn(s"_t$i", graft.functions.VectorFunctions.cosine_topk(
          col("qv"), col("qnorm"), col("query_id"), col(s"_l$i"), k))
        .drop(s"_l$i", s"_c$i", s"_p$i")
    }
    val listTops = (0 until nprobe).map(i => col(s"_t$i"))
    joined
      .withColumn("top", graft.functions.TopKStruct.arrayTopK(
        flatten(filter(array(listTops: _*), a => a.isNotNull)),
        k, true, false))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.cand_id").as("cand_id"),
        col("col.sim").as("sim"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Embedding-cosine near-duplicate PAIRS (E2): every unordered pair
    * with cosine ≥ threshold — the embedding-space member of the
    * near-dup family (exact-hash / MinHash / SimHash catch textual
    * drift; this catches semantic duplicates the text never shows).
    * Same grid-blocked equi-join as [[nearestNeighbor]]: exact, O(n²)
    * compute but nothing else quadratic; `id_a < id_b` keeps each pair
    * once. For sub-quadratic screening run [[approxNearestNeighbor]]
    * first and threshold its output.
    */
  def cosineNearDuplicates(corpus: DataFrame, threshold: Double,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           grid: Int = 8): DataFrame = {
    val cells = sequence(lit(0), lit(grid - 1))
    val c = corpus.select(col(idCol).as("id_b"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cnorm", norm("cv"))
      .withColumn("ci", pmod(col("id_b"), lit(grid)))
      .withColumn("qj", explode(cells))
      .repartition(grid * grid, col("ci"), col("qj"))
    val q = corpus.select(col(idCol).as("id_a"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qnorm", norm("qv"))
      .withColumn("qj", pmod(col("id_a"), lit(grid)))
      .withColumn("ci", explode(cells))
      .repartition(grid * grid, col("ci"), col("qj"))
    c.join(q, Seq("ci", "qj"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Product-quantization code assignment: split each vector into `m`
    * contiguous subvectors and encode every subvector as the id of its
    * nearest codebook centroid — the compression step behind
    * billion-scale ANN indexes (a 64-dim float vector becomes m small
    * ints). The codebook here is the `nCent` lowest-id corpus vectors by
    * rank (deterministic, oracle-reproducible — a production run feeds
    * k-means-trained codebooks through the identical plan).
    *
    * All distances are exact integers: elements quantize to
    * floor(x·1000) BIGINT, so the argmin (ties → lowest centroid id) is
    * bit-identical across engines. Plan: one codegen'd encode projection
    * per row ([[graft.functions.PqEncode]]) over the broadcast nCent-row
    * codebook array — nothing scales with corpus², and the per-vector
    * cost is m·nCent·dim multiplies, the same arithmetic a native PQ
    * encoder does.
    */
  def pqCodes(corpus: DataFrame, m: Int = 4, nCent: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val arr = pqAssignArr(corpus, m, nCent, idCol, vecCol)._1
    arr.select(col("cand_id").as(idCol) +: (0 until m).map(s =>
      element_at(col("codes"), s + 1).as(s"code_$s")): _*)
  }

  /** The floor(x·1000) BIGINT grid every PQ kernel computes on: encode
    * distances, LUT cells and ADC sums are exact integers, hence
    * bit-identical across engines. Applied to the column as stored (a
    * float column multiplies in float, as the oracles do).
    */
  private def quantize(v: Column): Column =
    transform(v, x => floor(x * 1000).cast("long"))

  /** Nested per-subspace LUT over the cid-sorted codebook array `cb`:
    * lut[s][cid] = Σ over subspace s of `f(a_i, codeword_i)`, where `a`
    * names an array<bigint> (`c.qc` is the codeword itself). One
    * projection builds a whole LUT, and transform keeps cb's order, so
    * a codeword's position — its code — IS the inner index [[adcFold]]
    * reads.
    */
  private def nestedLut(m: Int, a: String, f: String): Column = {
    def sub(v: String) = s"slice($v, s * (size($v) div $m) + 1, size($v) div $m)"
    expr(
      s"""transform(sequence(0, ${m - 1}), s -> transform(cb, c ->
         |  aggregate(zip_with(${sub(a)}, ${sub("c.qc")}, (a, b) -> $f),
         |    CAST(0 AS BIGINT), (acc, x) -> acc + x)))""".stripMargin)
  }

  /** m-lookup ADC fold: Σ_s lut[s][codes[s]] on exact integers.
    * Native expression ([[graft.functions.AdcFold]]), NOT the
    * equivalent aggregate/element_at HOF: higher-order functions are
    * CodegenFallback (interpreted per row), which measured as no gain
    * over a join-and-aggregate scorer at the 1M sweep point.
    */
  private def adcFold(lut: String): Column =
    graft.functions.VectorFunctions.adc_fold(col("codes"), col(lut))

  /** Rank-select codebook: the `nCent` lowest-cand_id `qe` rows as
    * (qc, cid = 0-based rank) — deterministic, oracle-replayable.
    */
  private def rankCodebook(rows: DataFrame, nCent: Int): DataFrame =
    rows.orderBy(col("cand_id")).limit(nCent)
      .select(col("qe").as("qc"),
        (row_number().over(Window.orderBy(col("cand_id"))) - 1)
          .cast("long").as("cid"))

  /** `cb`, or the rank-select `fallback` when `cb` turns out EMPTY (a
    * sampled trainer whose predicate selected zero rows). An empty
    * codebook would make the encode drop EVERY vector from the index.
    * The fallback rides a degenerate anti join against `cb`'s first
    * row, so a nonempty `cb` passes through byte-identical.
    */
  private def nonEmptyOr(cb: DataFrame, fallback: DataFrame): DataFrame =
    cb.select(col("qc"), col("cid"))
      .union(fallback.join(cb.limit(1), lit(true), "left_anti"))

  /** A codebook carrying `centroid_id` is per-list (one codebook per
    * inverted list); without it, one global codebook serves every list.
    */
  private def isPerList(cb: DataFrame): Boolean =
    cb.columns.contains("centroid_id")

  /** Attach the codebook array `cb` (array<struct<cid, qc>>) to
    * `rows`: per-list codebooks join on centroid_id, a global one rides
    * every row. Either way the build side is nlist-bounded and
    * broadcast. Codewords are sorted by cid and renumbered 0..n-1, so
    * an encoded code is the codeword's position — what the nested LUTs
    * index by — and equals the cid for the 0-based contiguous cids
    * every codebook built here has.
    */
  private def withCodebook(rows: DataFrame, cb: DataFrame): DataFrame = {
    val arr = transform(sort_array(collect_list(struct(col("cid"), col("qc")))),
      (c, i) => struct(i.cast("long").as("cid"), c.getField("qc").as("qc"))).as("cb")
    if (isPerList(cb))
      rows.join(broadcast(cb.groupBy(col("centroid_id")).agg(arr)),
        Seq("centroid_id"))
    else rows.crossJoin(broadcast(cb.agg(arr)))
  }

  /** PQ-encode each row's `qe` against its list's codebook: `rows` with
    * `qe` replaced by `codes` (array<bigint>[m]) — one codegen'd
    * [[graft.functions.PqEncode]] projection, no shuffle.
    */
  private def encode(rows: DataFrame, cb: DataFrame, m: Int): DataFrame = {
    val keep = rows.columns.toSeq.filterNot(_ == "qe").map(col)
    withCodebook(rows, cb).select(keep :+ graft.functions.VectorFunctions
      .pq_encode(col("qe"), col("cb"), m).as("codes"): _*)
  }

  /** Shared PQ assignment: ((cand_id, codes array<bigint>[m]),
    * rank-select codebook (qc, cid)) over the raw quantized vectors.
    */
  private def pqAssignArr(corpus: DataFrame, m: Int, nCent: Int,
                          idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val c = corpus.select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("qe"))
    val cb = rankCodebook(c, nCent)
    (encode(c, cb, m), cb)
  }

  /** ANN recall@k audit — the eval loop every approximate index needs
    * before anyone trusts it corpus-wide: run the exact
    * [[bruteForceTopK]] and the approximate [[bucketedTopK]] over the
    * same query sample and report, per query, how many of the true
    * top-k the screen recovered. Recall below target is the signal to
    * add planes/probes — measured, not guessed.
    *
    * Compute: the brute pass is |queries|·|corpus| BY DESIGN — recall
    * ground truth is only affordable on a sample, which is exactly how
    * production ANN evals run (sample queries, exact scan once, reuse).
    * The approximate pass is the bucketed equi-join being audited.
    * Both sides are deterministic (ties break by candidate id), so
    * recall is an exact integer the oracle reproduces bit-for-bit.
    */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                planes: Int = 3, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    recallAudit(
      bruteForceTopK(corpus, queries, k, idCol, vecCol)
        .select(col("query_id"), col("cand_id")),
      bucketedTopK(corpus, queries, k, planes, idCol, vecCol)
        .select(col("query_id"), col("cand_id")))

  /** The recall join alone, index-agnostic: `exact` and `approx` are
    * (query_id, cand_id) result sets; output is the per-query
    * n_exact/n_approx/n_hit/recall_permille audit row — shared by
    * [[annRecall]] (sign-LSH) and the IVF-PQ audit (`q_ivfpq_recall`),
    * so every approximate index in the tier is auditable through one
    * exact-integer shape.
    */
  def recallAudit(exact: DataFrame, approx: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("cand_id"), lit(1L).as("hit"))
    val nApprox = a.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_approx"))
    exact.join(a, Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .join(nApprox, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"), col("n_hit"),
        expr("n_hit * 1000 div n_exact").as("recall_permille"))
  }

  /** PQ asymmetric-distance (ADC) top-k search — the serving half of
    * [[pqCodes]], and the reason PQ exists: once the corpus is encoded,
    * answering a query costs `m` table lookups per corpus vector
    * instead of `dim` float multiplies, and the corpus's raw vectors
    * are never touched again.
    *
    * Plan shape at 100 TB: each query builds its LUT once (lut[s][cid] =
    * the integer subspace squared distance, one projection over the
    * broadcast codebook array); queries are the SMALL side by
    * assumption, so the LUT rows are broadcast and every corpus code row
    * scores itself with m lookups ([[adcFold]]) — no raw-vector cross
    * product, no per-subspace row explosion. The LUT cell is the same
    * arithmetic encode ([[graft.functions.PqEncode]]) minimizes, so a
    * vector's distance under its chosen code is encode's distance; the
    * `q_pq_search` oracle pins the two implementations together. Every
    * code row is scored per query, so the per-query top-k runs on
    * [[Ranking.topKPerGroup]].
    *
    * Everything is exact integer arithmetic on the floor(x·1000) grid:
    * ADC distance = Σₛ ‖q_s − cent(code_s)‖², bounded by
    * dim·(2·scale·max|x|)² ≈ 9e7 for dim 64 — hash-strict oracles.
    * Ties rank by ascending neighbor id; the query row itself is
    * excluded. ADC is approximate vs exact L2 (that's the trade), but
    * deterministically so: the approximation is a pure function of the
    * codebook, reproduced bit-for-bit by the oracle.
    */
  def pqSearch(corpus: DataFrame, queryPred: Column, k: Int = 5,
               m: Int = 4, nCent: Int = 8,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (codes, cb) = pqAssignArr(corpus, m, nCent, idCol, vecCol)
    val lut = withCodebook(corpus.filter(queryPred)
        .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qe")), cb)
      .select(col("query_id"), nestedLut(m, "qe", "(a - b) * (a - b)").as("lut"))
    val scored = codes.crossJoin(broadcast(lut))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id").as("neighbor_id"),
        adcFold("lut").as("adc_dist"))
    Ranking.topKPerGroup(scored, Seq(col("query_id")),
      Seq(asc("adc_dist"), asc("neighbor_id")), k)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** IVF-PQ composed search (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — the IVFADC
    * system) — the billion-scale index layout: the coarse quantizer
    * ([[ivfCentroids]] + [[ivfAssign]]'s cosine argmax, identical to
    * `q_knn_ivf`'s assignment) restricts each query's candidates to its
    * `nprobe` nearest inverted lists, and within those lists candidates
    * are scored asymmetrically through their PQ codes by cosine-ADC
    * ([[ivfPqProbe]]). Raw corpus vectors are touched at BUILD time
    * only, never at probe time.
    *
    * This variant encodes raw vectors against a shared corpus-level
    * codebook ([[ivfPqBuild]]); [[ivfPqResidualSearch]] and
    * [[ivfPqLocalSearch]] encode residuals. All arithmetic on the
    * floor(x·1000) BIGINT grid; ties rank by ascending candidate id; the
    * query row is excluded.
    */
  def ivfPqSearch(corpus: DataFrame, queryPred: Column, k: Int = 5,
                  nlist: Int = 8, nprobe: Int = 2, m: Int = 4, nCent: Int = 8,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, nlist, idCol, vecCol)
    val (index, cb, lists) = ivfPqBuild(corpus, cents, m, nCent, idCol, vecCol)
    ivfPqProbe(index, lists, cb, corpus.filter(queryPred), k, nprobe,
      m, idCol, vecCol)
  }

  /** [[ivfPqResidualBuild]] + [[ivfPqProbe]] composed inline — queries
    * drawn from the corpus by predicate, the gated-catalog shape
    * (`q_knn_ivfpq_res`).
    */
  def ivfPqResidualSearch(corpus: DataFrame, queryPred: Column, k: Int = 5,
                          nlist: Int = 8, nprobe: Int = 2,
                          m: Int = 4, nCent: Int = 8,
                          trained: Boolean = false, sampleMod: Int = 16,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          hashSample: Boolean = false): DataFrame = {
    val cents = ivfCentroids(corpus, nlist, idCol, vecCol)
    val (index, rcb, lists) = ivfPqResidualBuild(corpus, cents, m, nCent,
      trained, sampleMod, idCol, vecCol, hashSample)
    ivfPqProbe(index, lists, rcb, corpus.filter(queryPred), k, nprobe, m,
      idCol, vecCol)
  }

  /** [[ivfPqLocalBuild]] + [[ivfPqProbe]] composed inline — the
    * gated-catalog shape (`q_knn_ivfpq_local`).
    */
  def ivfPqLocalSearch(corpus: DataFrame, queryPred: Column, k: Int = 5,
                       nlist: Int = 8, nprobe: Int = 2,
                       m: Int = 4, nCent: Int = 8,
                       trained: Boolean = false, sampleMod: Int = 16,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       hashSample: Boolean = false): DataFrame = {
    val cents = ivfCentroids(corpus, nlist, idCol, vecCol)
    // NOT plan-truncated: eagerly localCheckpoint-ing the built
    // index/codebooks to shrink the probe plan was tried and REGRESSED
    // 1.40 → 2.40 s at sf0.1 — three extra sequential jobs (each with
    // its own planning + cold codegen) cost more than the analysis
    // time the smaller probe plan saved. The single-action composed
    // plan stays.
    val (index, rcb, lists) = ivfPqLocalBuild(corpus, cents, m, nCent,
      trained, sampleMod, idCol, vecCol, hashSample)
    ivfPqProbe(index, lists, rcb, corpus.filter(queryPred), k, nprobe, m,
      idCol, vecCol)
  }

  /** IVF-PQ index BUILD, shared-codebook layout — the one-off pass where
    * raw vectors are last touched, and a ZERO-SHUFFLE one: the coarse
    * assignment argmax ([[ivfAssign]]'s NearestCentroid kernel) and the
    * PQ encode ([[pqCodes]]'s PqEncode kernel) run in ONE projection
    * over the corpus. Every IVF-PQ build returns the same three frames,
    * which [[ivfPqProbe]] consumes unchanged:
    *   - index (cand_id, centroid_id, codes array<bigint>[m]) — one row
    *     per vector, m small ints: the storage-faithful layout. At
    *     100 TB write it out partitioned by `centroid_id` and every
    *     probe's list restriction becomes partition pruning;
    *   - codebook (qc, cid) — persist it: nCent rows, but derived from a
    *     corpus scan;
    *   - lists: the coarse centroid table with each list's quantized
    *     centroid added (centroid_id, centv, centnorm, qcent). Here qcent
    *     is the ZERO vector: a shared codebook encodes the residual
    *     against a zero centroid, so the residual score's qcent terms
    *     vanish exactly and the probe is the plain cosine-ADC.
    * Default codebook: the nCent lowest-id corpus vectors, cid = 0-based
    * rank (identical to [[pqCodes]]'). Pass `codebook` ((qc
    * array<bigint>, cid) rows, e.g. [[pqKmeansCodebook]]) to encode
    * against a trained one; a supplied codebook that turns out EMPTY
    * falls back to the default. Its cids need not be 0-based or
    * contiguous: codes are codeword positions in cid order
    * ([[withCodebook]]).
    */
  def ivfPqBuild(corpus: DataFrame, cents: DataFrame,
                 m: Int = 4, nCent: Int = 8,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 codebook: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val default = rankCodebook(corpus.select(col(idCol).as("cand_id"),
      quantize(col(vecCol)).as("qe")), nCent)
    val cb = codebook.fold(default)(nonEmptyOr(_, default))
    val lists = cents.withColumn("qcent", transform(col("centv"), _ => lit(0L)))
    (encode(assignQuantized(corpus, cents, idCol, vecCol), cb, m), cb, lists)
  }

  /** RESIDUAL IVF-PQ BUILD — the faithful IVFADC encode (Jégou et al.
    * 2011 §IV: PQ is applied to x − q₁(x), the residual after coarse
    * quantization). The shared-codebook form ([[ivfPqBuild]]) measures
    * why this matters: on a clustered corpus every same-cluster vector
    * quantizes to the SAME codes (cluster spread ≪ codeword spacing),
    * within-list ordering degenerates to id tie-breaks, and recall@10
    * collapses to ~k/|cluster| (sweep: 0.03 at 30k clustered).
    * Residuals live at within-list scale — exactly where the probe
    * needs discrimination — so the codewords resolve what the shared
    * codebook cannot express.
    *
    * Same zero-shuffle plan family as [[ivfPqBuild]]: one argmax
    * projection (coarse assignment), one broadcast join to attach the
    * quantized centroid and subtract (residuals are exact integers on
    * the same grid), one encode projection over the broadcast residual
    * codebook. `trained = true` trains the codebook on the 1/sampleMod
    * residual sample via the per-subspace Lloyd pass
    * ([[pqKmeansCodebook]]'s core; an empty sample falls back to
    * rank-select); default is rank-select (the nCent lowest-id vectors'
    * residuals — deterministic, oracle-replayable). Returns
    * [[ivfPqBuild]]'s three frames: (index, residual codebook (qc, cid),
    * lists with qcent = the quantized centroid).
    */
  def ivfPqResidualBuild(corpus: DataFrame, cents: DataFrame,
                         m: Int = 4, nCent: Int = 8,
                         trained: Boolean = false, sampleMod: Int = 16,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         hashSample: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val (res, lists) = residuals(corpus, cents, idCol, vecCol)
    val rankCb = rankCodebook(res, nCent)
    val rcb =
      if (trained)
        nonEmptyOr(pqKmeansCodebookQ(
          res.filter(trainSamplePred("cand_id", sampleMod, hashSample))
            .select(col("cand_id").as("vid"), col("qe")), m, nCent), rankCb)
      else rankCb
    (encode(res, rcb, m), rcb, lists)
  }

  /** LOCAL-CODEBOOK residual IVF-PQ BUILD — one codebook PER INVERTED
    * LIST (the FAISS "local codebooks" layout). The shared residual
    * codebook measures its own capacity wall on the sweep: residuals
    * of a clustered corpus form ~one mode per (cluster, list) offset,
    * and once modes outnumber codewords the within-mode resolution is
    * zero (clustered 1M: 244 modes vs 256 codewords → recall 0.058
    * where 100k's 64 modes gave 0.475). Per-list codebooks divide the
    * mode space by nlist — each list's nCent codewords cover only ITS
    * ~clusters/nlist residual modes, restoring within-mode levels
    * without growing the code width.
    *
    * Same plan family as [[ivfPqResidualBuild]]; the encode joins each
    * residual row with ITS list's broadcast codebook array (nlist rows)
    * instead of one global array. One honest deviation from the
    * zero-shuffle claim: the rank-select default pays a single
    * list-keyed exchange (the per-list row_number window); the trained
    * path's Lloyd shuffles only the 1/sampleMod sample. `trained = true`
    * runs the grouped per-subspace Lloyd ([[pqKmeansCodebookGrouped]],
    * gid = list); default rank-select takes each list's nCent lowest-id
    * residuals. Storage: nlist·nCent·dim ints — ~50 MB at a billion
    * vectors under the √N/16 nlist discipline, still a broadcast table.
    * Returns [[ivfPqBuild]]'s three frames, the codebook keyed by list:
    * (index, local codebook (centroid_id, cid, qc), lists).
    */
  def ivfPqLocalBuild(corpus: DataFrame, cents: DataFrame,
                      m: Int = 4, nCent: Int = 8,
                      trained: Boolean = false, sampleMod: Int = 16,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      hashSample: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val (res, lists) = residuals(corpus, cents, idCol, vecCol)
    val rcb =
      if (trained) {
        val tcb = pqKmeansCodebookGrouped(
          res.filter(trainSamplePred("cand_id", sampleMod, hashSample))
            .select(col("centroid_id").as("gid"),
              col("cand_id").as("vid"), col("qe")), m, nCent)
          .withColumnRenamed("gid", "centroid_id")
        // missing-list fallback: a list whose training sample is EMPTY
        // gets no codebook rows, and the encode's inner join on
        // centroid_id would silently drop every vector of that list —
        // unreachable at probe time. Each such list gets ONE
        // rank-select codeword (its lowest-id residual): enough to keep
        // all its vectors reachable, and capacity is degenerate only
        // for lists the sample already proved near-empty. The trained
        // codebook's own gid set IS the sampled-list set, so the check
        // costs one partial-agg pass over `res` plus an anti join
        // against the (nlist-bounded) codebook — never a second
        // full-width window exchange.
        val fb = res.groupBy(col("centroid_id"))
          .agg(min(struct(col("cand_id"), col("qe"))).as("mn"))
          .join(tcb.select(col("centroid_id")).distinct(),
            Seq("centroid_id"), "left_anti")
          .select(col("centroid_id"), col("mn.qe").as("qc"),
            lit(0L).as("cid"))
        tcb.select(col("centroid_id"), col("qc"), col("cid")).union(fb)
      } else {
        val w = Window.partitionBy(col("centroid_id")).orderBy(col("cand_id"))
        res.withColumn("rn", row_number().over(w)).filter(col("rn") <= nCent)
          .select(col("centroid_id"), col("qe").as("qc"),
            (col("rn") - 1).cast("long").as("cid"))
      }
    (encode(res, rcb, m), rcb, lists)
  }

  /** Coarse assignment with the raw vector quantized alongside, in ONE
    * projection: (cand_id, centroid_id, qe) — [[ivfAssign]]'s
    * NearestCentroid argmax over the broadcast centroid array.
    */
  private def assignQuantized(corpus: DataFrame, cents: DataFrame,
                              idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("cand_id"),
        toDoubleVec(col(vecCol)).as("cv"), quantize(col(vecCol)).as("qe"))
      .withColumn("cnorm", norm("cv"))
      .crossJoin(broadcast(centroidArray(cents)))
      .select(col("cand_id"),
        graft.functions.VectorFunctions
          .nearest_centroid(col("cv"), col("cnorm"), col("cents"))
          .as("centroid_id"),
        col("qe"))

  /** Residual rows (cand_id, centroid_id, qe = quantized x − quantized
    * centroid of its list) and the lists (`cents` + qcent, the
    * quantized centroid) they were taken against.
    */
  private def residuals(corpus: DataFrame, cents: DataFrame,
                        idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val lists = cents.withColumn("qcent", quantize(col("centv")))
    val res = assignQuantized(corpus, cents, idCol, vecCol)
      .join(broadcast(lists.select(col("centroid_id"), col("qcent"))),
        Seq("centroid_id"))
      .select(col("cand_id"), col("centroid_id"),
        zip_with(col("qe"), col("qcent"), (a, b) => a - b).as("qe"))
    (res, lists)
  }

  /** SAMPLED-Lloyd-trained PQ codebook — the data-adaptive upgrade of
    * [[ivfPqBuild]]'s rank-select default, trained independently PER
    * SUBSPACE (the product-quantizer objective: each subspace's nCent
    * codewords minimize that subspace's quantization distortion) on
    * 1/`sampleMod` of the corpus. The rank-select codebook is blind to
    * data layout — on the sweep's clustered fixture the nCent lowest-id
    * vectors cover only the low-id clusters' subvector space and
    * cosine-ADC recall collapses; one Lloyd pass from the same seeds
    * fixes exactly that, and Lloyd monotonicity makes the improvement a
    * provable (spec-pinned) inequality, not a hope: sample encode
    * distortion under the trained codebook ≤ under the seed codebook.
    *
    * Deterministic and exact-integer end to end (the
    * [[ivfKmeansCentroids]] discipline): sample = id ≡ 0 (mod
    * sampleMod); seeds = the nCent lowest-id sample vectors (the SAME
    * rank rule as the default codebook, so trained-vs-rank is a pure
    * training delta); one integer-L2 Lloyd assignment per subspace
    * (ties → lowest cid); codeword cell = SUM(qv) div COUNT — integer
    * division, bit-stable. A (subspace, cid) cell that loses every
    * member keeps its seed's values (coalesce), so the codebook always
    * has exactly nCent full-dim rows and [[ivfPqBuild]] consumes it
    * unchanged. Training cost rides the SAMPLE: the dominant term is
    * the sample·nCent broadcast join over m subspace rows — size
    * sampleMod against sample·nCent·dim, decoupled from corpus size.
    */
  def pqKmeansCodebook(corpus: DataFrame, m: Int = 4, nCent: Int = 8,
                       sampleMod: Int = 16,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       hashSample: Boolean = false)
      : DataFrame = {
    require(sampleMod >= 1, "sampleMod must be >= 1")
    val samp = corpus.filter(trainSamplePred(idCol, sampleMod, hashSample))
      .select(col(idCol).as("vid"), quantize(col(vecCol)).as("qe"))
    pqKmeansCodebookQ(samp, m, nCent)
  }

  /** Training-sample predicate: id ≡ 0 (mod sampleMod), or — with
    * `hashSample` — xxhash64(id) ≡ 0 (mod sampleMod). The id-mod form
    * is oracle-replayable but ALIASES with any arithmetic structure the
    * id space carries: the r14 sweep's clustered-1M point has cluster =
    * id % 244 and 244 = 4·61, so a sampleMod-61 stride covered 4 of
    * 244 clusters and every trained codebook missed 98% of the residual
    * modes (recall 0.058 vs 0.475 at the non-aliased 100k point — the
    * collapse was the SAMPLE, not codebook capacity). xxhash64 is
    * deterministic and seedless (stable across runs and engines running
    * Spark), structure-free by construction — the production sampling
    * discipline when the id space's arithmetic is unknown.
    */
  private def trainSamplePred(idCol: String, sampleMod: Int,
                              hashSample: Boolean): Column =
    if (hashSample) pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0
    else pmod(col(idCol), lit(sampleMod)) === 0

  /** Integer-domain core of [[pqKmeansCodebook]]: `samp` is already
    * (vid, qe array<bigint>) rows — the residual path feeds residual
    * vectors (integer by construction) through the identical training.
    */
  private def pqKmeansCodebookQ(samp: DataFrame, m: Int, nCent: Int)
      : DataFrame =
    pqKmeansCodebookGrouped(samp.withColumn("gid", lit(0L)), m, nCent)
      .drop("gid")

  /** Grouped form of the per-subspace Lloyd core: trains ONE codebook
    * PER `gid` GROUP (the per-inverted-list "local codebook" layout —
    * [[ivfPqLocalBuild]] passes gid = centroid_id so each list's
    * codewords cover only that list's residual modes). Input: (gid,
    * vid, qe) rows; output: (gid, cid, qc). Seeds are the nCent
    * lowest-vid rows WITHIN each group; assignment, means and the
    * seed-fallback coalesce all key on (gid, …) — the global form is
    * the single-group special case.
    */
  private def pqKmeansCodebookGrouped(samp: DataFrame, m: Int, nCent: Int)
      : DataFrame = {
    val sub = s"(size(qe) div $m)"
    val rows = samp.withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .select(col("gid"), col("vid"), col("s"),
        expr(s"slice(qe, s * $sub + 1, $sub)").as("sv"))
    val seedW = Window.partitionBy(col("gid")).orderBy(col("vid"))
    val seeds = samp
      .withColumn("rn", row_number().over(seedW)).filter(col("rn") <= nCent)
      .select(col("gid"), col("qe"), (col("rn") - 1).cast("long").as("cid"))
      .withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .select(col("gid"), col("cid"), col("s"),
        expr(s"slice(qe, s * $sub + 1, $sub)").as("seedv"))
    val asg = rows.join(broadcast(seeds), Seq("gid", "s"))
      .select(col("gid"), col("vid"), col("s"), col("cid"),
        expr("""aggregate(zip_with(sv, seedv, (a, b) -> (a - b) * (a - b)),
                CAST(0 AS BIGINT), (acc, x) -> acc + x)""").as("dist"))
      .groupBy(col("gid"), col("vid"), col("s"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("gid"), col("vid"), col("s"), col("best.cid").as("cid"))
    val means = rows.join(asg, Seq("gid", "vid", "s"))
      .select(col("gid"), col("s"), col("cid"), size(col("sv")).as("slen"),
        posexplode(col("sv")))
      .select(col("gid"), col("s"), col("cid"),
        (col("s") * col("slen") + col("pos")).as("gpos"), col("col").as("qv"))
      .groupBy(col("gid"), col("s"), col("cid"), col("gpos"))
      .agg(expr("sum(qv) div count(1)").as("cv"))
    val seedPos = seeds
      .select(col("gid"), col("s"), col("cid"), size(col("seedv")).as("slen"),
        posexplode(col("seedv")))
      .select(col("gid"), col("s"), col("cid"),
        (col("s") * col("slen") + col("pos")).as("gpos"),
        col("col").as("seedval"))
    seedPos.join(means, Seq("gid", "s", "cid", "gpos"), "left")
      .select(col("gid"), col("cid"), col("gpos"),
        coalesce(col("cv"), col("seedval")).as("v"))
      .groupBy(col("gid"), col("cid"))
      .agg(array_sort(collect_list(struct(col("gpos"), col("v")))).as("pcs"))
      .select(col("gid"),
        transform(col("pcs"), p => p.getField("v")).as("qc"), col("cid"))
  }

  /** IVF-PQ PROBE — the one probe for every codebook layout: it takes
    * the three frames any IVF-PQ build returns ([[ivfPqBuild]],
    * [[ivfPqResidualBuild]], [[ivfPqLocalBuild]]: index, codebook,
    * lists). Each query ranks its `nprobe` nearest coarse centroids
    * (broadcast, same csim-desc/id-asc rule as [[ivfProbe]]) and scores
    * ONLY the code rows whose list is probed.
    *
    * Scoring is COSINE-ADC, not L2-ADC — the dense tier's ground truth
    * ([[bruteForceTopK]], [[ivfProbe]], the recall audits) is cosine,
    * and an L2-ranked ADC measured recall@10 ≤ 0.17 against it on the
    * sweep fixtures (metric mismatch, not quantization error). The score
    * is the exact cosine of the quantized query q̃ and the reconstruction
    * x̂ = qcent(list) + codeword(codes), and every term decomposes into
    * integer LUTs —
    *   ip(q̃, x̂)  = ip(q̃, qcent)              [per (query, list)]
    *              + Σ_s ipr[q][s][code]        [query × codebook]
    *   ‖x̂‖²      = ‖qcent‖²                   [per list]
    *              + 2·Σ_s crs[list][s][code]   [centroid × codebook]
    *              + Σ_s rn2[s][code]           [codebook]
    *   adc_sim   = ip / (√‖q̃‖² · √‖x̂‖²)
    * — integer sums, one IEEE division: |adc_sim| ≤ 1 and
    * bit-reproducible cross-engine. With the shared layout's zero qcent
    * the qcent terms are exactly 0 and this is cosine(q̃, codeword(codes)).
    * A per-list codebook (one carrying `centroid_id`) keys its ipr and
    * rn2 LUTs by list too, and builds ipr only for PROBED (query, list)
    * pairs (queries·nprobe·m·nCent cells, not queries·nlist·…); a global
    * codebook builds ipr once per query — keying it by probed pair would
    * grow it nprobe× without removing the |queries| scaling.
    *
    * Plan: every LUT is a nested array (lut[s][cid], one projection
    * over the broadcast codebook array) attached by a slim join, and each
    * candidate row scores itself with three m-lookup folds ([[adcFold]])
    * in one codegen'd projection — per-candidate cost is m lookups,
    * independent of dim, and candidates never explode into (s, code)
    * rows. A query's candidates are its nprobe lists, ~nprobe·N/nlist
    * rows, so the top-k runs on [[Ranking.topKPerGroup]] under
    * (adc_sim DESC, neighbor_id ASC); a NULL sim ranks last, rank is a
    * 1-based long. The query row is excluded.
    *
    * Each candidate row meets its LUTs through at most three slim
    * joins: the probed (query, list) pair's scalars (qip and ‖q̃‖², both
    * computed beside the coarse cosine — plus the pair's ipr LUT for a
    * per-list codebook), the query's ipr LUT for a global one, and its
    * list's crs/rn2 LUTs.
    *
    * `broadcastLuts` guards the QUERY-proportional tables only (the
    * probed pairs and ipr — O(|queries|) rows each; ipr is m·nCent
    * cells per query, so a corpus-scale query set would collect to the
    * driver and can blow the broadcast limit). `false` drops those
    * hints and every query-keyed join becomes a shuffle join on slim
    * rows; the codebook/centroid tables (nlist-bounded) stay broadcast
    * either way.
    */
  def ivfPqProbe(index: DataFrame, lists: DataFrame, codebook: DataFrame,
                 queries: DataFrame, k: Int, nprobe: Int = 2,
                 m: Int = 4, idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 broadcastLuts: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot_long
    def bq(df: DataFrame): DataFrame = if (broadcastLuts) broadcast(df) else df
    val perList = isPerList(codebook)
    val q = queryVectors(queries, idCol, vecCol, quantize(col(vecCol)).as("qe"))
    val pairs = coarseProbes(q, lists, nprobe, Seq(
        vec_dot_long(col("qe"), col("qcent")).as("qip"),
        vec_dot_long(col("qe"), col("qe")).as("qn2")) ++
      (if (perList) Seq(col("qe")) else Nil): _*)
    val iprLut = nestedLut(m, "qe", "a * b").as("ipr_lut")
    val cands =
      if (perList)
        index.join(bq(withCodebook(pairs, codebook).select(col("query_id"),
          col("centroid_id"), col("qip"), col("qn2"), iprLut)), Seq("centroid_id"))
      else
        index.join(bq(pairs), Seq("centroid_id"))
          .join(bq(withCodebook(q.select(col("query_id"), col("qe")), codebook)
            .select(col("query_id"), iprLut)), Seq("query_id"))
    val listLuts = withCodebook(lists.select(col("centroid_id"), col("qcent")), codebook)
      .select(col("centroid_id"), nestedLut(m, "qcent", "a * b").as("crs_lut"),
        nestedLut(m, "c.qc", "a * b").as("rn2_lut"),
        vec_dot_long(col("qcent"), col("qcent")).as("cn2c"))
    val scored = cands.join(broadcast(listLuts), Seq("centroid_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id").as("neighbor_id"),
        adcFold("ipr_lut").as("iprs"), adcFold("crs_lut").as("crs"),
        adcFold("rn2_lut").as("rn2s"), col("qip"), col("cn2c"), col("qn2"))
      .select(col("query_id"), col("neighbor_id"),
        ((col("qip") + col("iprs")).cast("double") /
          (sqrt(col("qn2").cast("double")) *
            sqrt((col("cn2c") + lit(2) * col("crs") + col("rn2s"))
              .cast("double")))).as("adc_sim"))
    Ranking.topKPerGroup(scored, Seq(col("query_id")),
      Seq(desc("adc_sim"), asc("neighbor_id")), k)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Sub-quadratic embedding near-dup PAIRS — the 100 TB composition the
    * exact [[cosineNearDuplicates]] documents as its scale path:
    * sign-LSH screen → exact cosine verify on candidates only.
    *
    * Candidate set = unordered pairs whose sign-LSH buckets are within
    * Hamming distance 1 — exactly the SYMMETRIC closure of
    * [[approxNearestNeighbor]]'s multi-probe screen (q probes bucket(q)
    * xor {0, each single bit}; bucket(c) ∈ probes(q) ⟺ bucket(q) ∈
    * probes(c), so screening ordered (a,b) with a<b loses nothing).
    * Each qualifying pair is generated exactly once: a candidate sits in
    * ONE bucket and a probe array's entries are distinct, so no
    * dedup/distinct pass is needed. Compute is Σ|bucket|·(planes+1) —
    * linear in the corpus for balanced buckets — vs the exact variant's
    * n²/2 dot products; recall is whatever the screen admits (standard
    * LSH semantics; add planes-choose-2 probes for Hamming-2 recall).
    */
  def annNearDuplicates(corpus: DataFrame, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        planes: Int = 4): DataFrame = {
    val buckets = 1 << planes
    val c = corpus.select(col(idCol).as("id_b"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("bucket", signBucket("cv", planes))
      .withColumn("cnorm", norm("cv"))
      .repartition(buckets, col("bucket"))
    val probes = (0 until planes).map(i => signBucket("qv", planes).bitwiseXOR(lit(1 << i)))
    val q = corpus.select(col(idCol).as("id_a"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qnorm", norm("qv"))
      .withColumn("bucket", explode(array(signBucket("qv", planes) +: probes: _*)))
      .repartition(buckets, col("bucket"))
    c.join(q, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Approximate corpus-wide nearest neighbor — the sub-quadratic scale
    * path. Candidates come from a sign-LSH equi-join: every vector hashes
    * to one bucket; each query probes its own bucket plus all buckets at
    * Hamming distance ≤ 1 (multi-probe recovers most of the recall a
    * single bucket loses). Compute is Σ|bucket|·|probes| — linear in the
    * corpus for balanced buckets — and the only join is an equi-join on
    * the bucket id. Vectors whose probed buckets hold no other vector
    * produce no row (standard ANN semantics).
    */
  def approxNearestNeighbor(corpus: DataFrame,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            planes: Int = 4): DataFrame = {
    // explicit repartition on the bucket key for the same two reasons as
    // in nearestNeighbor: exchange-free equi-join + AQE-coalescing guard
    // (shuffle bytes are corpus-sized, downstream compute is per-pair)
    val buckets = 1 << planes
    val c = corpus.select(col(idCol).as("cand_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("bucket", signBucket("cv", planes))
      .withColumn("cnorm", norm("cv"))
      .repartition(buckets, col("bucket"))
    val probes = (0 until planes).map(i => signBucket("qv", planes).bitwiseXOR(lit(1 << i)))
    val q = corpus.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qnorm", norm("qv"))
      .withColumn("bucket", explode(array(signBucket("qv", planes) +: probes: _*)))
      .repartition(buckets, col("bucket"))
    c.join(q, Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        (dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("sim"), (-col("cand_id")).as("inv_id"))).as("best"))
      .select(col("query_id").as(idCol), (-col("best.inv_id")).as("neighbor_id"),
        col("best.sim").as("sim"))
  }

  /** SemDeDup-style semantic dedup accounting: partition the corpus into
    * k-means cells (nearest of the k lowest-id seed vectors, exact
    * integer squared-L2 on the floor(x·scale) grid — same quantization
    * argument as [[pqCodes]]), then mark as pruned every vector that has
    * a LOWER-id cell-mate at cosine ≥ tauNum/tauDen. Returns one
    * accounting row per cell: members, pruned count, first pruned id.
    *
    * This is the embedding-dedup recipe that scales where exact
    * all-pairs cannot: pairwise compute is Σ|cell|², so choosing
    * k ∝ corpus size holds cells at ~10⁴ vectors and the whole pass
    * linear — the cells are the candidate screen, cosine is the verify.
    * (Contrast [[cosineNearDuplicates]], exact but corpus-quadratic
    * compute, and [[annNearDuplicates]], whose sign-LSH buckets screen
    * by random planes rather than data-adaptive cells.)
    *
    * The cosine cut is exact integer arithmetic end-to-end: with
    * quantized elements, dot and squared norms are BIGINTs, and
    * cos ≥ n/d  ⟺  dot > 0 ∧ d²·dot² ≥ n²·‖a‖²·‖b‖² — no sqrt, no
    * float compare, so the DuckDB oracle cannot disagree. Overflow
    * bound: d²·dot² ≤ d²·(dim·scale²)² ≈ 1e17 for dim 64, scale 1000,
    * d ≤ 5 — inside int64 with 1.5 decades to spare.
    */
  /** Data-adaptive k-means cell id per vector — the assignment stage
    * shared by [[semanticDedup]] and [[hardNegatives]]: nearest of the
    * `cells` lowest-id seed vectors by exact integer squared-L2 on the
    * floor(x·scale) grid, ties to the lowest cell id.
    *
    * Plan: ONE codegen'd argmin per row over the scalar-broadcast seed
    * array ([[graft.functions.NearestCellLong]]) scored by nc − 2·dot
    * (n2 is constant across cells, so the order AND tie set match the
    * full squared-L2 an oracle sums; all-integer, so parity with the
    * former crossJoin → min(struct(dist, cid)) composition is exact).
    * That composition materialized |corpus|×cells rows plus an argmin
    * exchange just to keep one (vid, cid) per vector — the assignment
    * is now a zero-exchange projection. Output: (vid, cid).
    */
  def cellAssignments(corpus: DataFrame, cells: Int, idCol: String,
                      vecCol: String, scale: Int): DataFrame = {
    import graft.functions.VectorFunctions.{nearest_cell_long, vec_dot_long}
    val quant = corpus.select(col(idCol).as("vid"),
      transform(toDoubleVec(col(vecCol)), x => floor(x * scale).cast("long")).as("qvec"))
    val seeds = corpus.orderBy(col(idCol)).limit(cells)
      .select(col(idCol).as("cid"),
        transform(toDoubleVec(col(vecCol)), x => floor(x * scale).cast("long")).as("qc"))
      .withColumn("nc", vec_dot_long(col("qc"), col("qc")))
    val seedArr = seeds.agg(sort_array(collect_list(
      struct(col("cid"), col("qc"), col("nc")))).as("cells"))
    quant.crossJoin(broadcast(seedArr))
      .select(col("vid"),
        nearest_cell_long(col("qvec"), col("cells")).as("cid"))
  }

  def semanticDedup(corpus: DataFrame, k: Int = 8,
                    tauNum: Int = 2, tauDen: Int = 5,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    scale: Int = 1000): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot_long
    // whole-vector quantized form: one row per vector; the norm is the
    // codegen'd vec_dot_long self-dot (tight primitive loop — the HOF
    // zip_with/aggregate composition is interpreted and allocates a
    // zipped array per row, which dominates when evaluated per PAIR)
    val quant = corpus.select(col(idCol).as("vid"),
        transform(toDoubleVec(col(vecCol)), x => floor(x * scale).cast("long")).as("qvec"))
      .withColumn("n2", vec_dot_long(col("qvec"), col("qvec")))
    val assign = cellAssignments(corpus, k, idCol, vecCol, scale)
    val members = assign.join(quant, Seq("vid"))
    val a = members.select(col("cid"), col("vid").as("id_a"),
      col("qvec").as("va"), col("n2").as("na"))
    val b = members.select(col("cid"), col("vid").as("id_b"),
      col("qvec").as("vb"), col("n2").as("nb"))
    val dupPairs = a.join(b, Seq("cid")).filter(col("id_a") < col("id_b"))
      .withColumn("dot", vec_dot_long(col("va"), col("vb")))
      .filter(col("dot") > lit(0L) &&
        col("dot") * col("dot") * lit(tauDen.toLong * tauDen) >=
          lit(tauNum.toLong * tauNum) * col("na") * col("nb"))
    val pruned = dupPairs.select(col("cid"), col("id_b")).distinct()
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_pruned"), min(col("id_b")).as("first_pruned"))
    // sizes from `members` (1:1 with assign — quant has every vid) so the
    // a/b/size branches share one subtree and ReuseExchange dedupes it
    members.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"))
      .join(pruned, Seq("cid"), "left")
      .select(col("cid").as("cluster_id"), col("n_members"),
        coalesce(col("n_pruned"), lit(0L)).as("n_pruned"), col("first_pruned"))
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the top-`k` most-cosine-similar vectors that live in a
    * DIFFERENT semantic cell — similar enough to be confusable, far
    * enough (by the data-adaptive [[cellAssignments]] partition) to be
    * true negatives. This is the training-pair curation step contrastive
    * embedding pipelines run over the whole corpus per epoch.
    *
    * Candidate generation is [[approxNearestNeighbor]]'s sign-LSH
    * multi-probe screen (self bucket + `planes` single-bit flips —
    * Hamming ≤ 1), NOT all-pairs: compute stays linear in corpus size
    * for fixed bucket occupancy. The cross-cell filter then drops
    * same-cell candidates (those are [[semanticDedup]]'s near-dup
    * prunes, the opposite of a negative). Per-anchor top-k is one
    * window over the candidate set. Every stage is a bucket/cell
    * equi-join or a keyed window — at 100 TB, grow `planes` and `cells`
    * with the corpus and the shape holds.
    *
    * Output: (anchor_id, negative_id, sim, rank), rank 1..k by
    * (sim DESC, negative_id ASC).
    */
  def hardNegatives(corpus: DataFrame, k: Int = 3, planes: Int = 4,
                    cells: Int = 8, idCol: String = "vec_id",
                    vecCol: String = "embedding", scale: Int = 1000): DataFrame = {
    val assign = cellAssignments(corpus, cells, idCol, vecCol, scale)
    val buckets = 1 << planes
    val c = corpus.select(col(idCol).as("cand_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("bucket", signBucket("cv", planes))
      .withColumn("cnorm", norm("cv"))
      .join(assign.select(col("vid").as("cand_id"), col("cid").as("cand_cell")),
        Seq("cand_id"))
      .repartition(buckets, col("bucket"))
    val probes = (0 until planes).map(i =>
      signBucket("qv", planes).bitwiseXOR(lit(1 << i)))
    val q = corpus.select(col(idCol).as("anchor_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qnorm", norm("qv"))
      .join(assign.select(col("vid").as("anchor_id"), col("cid").as("anchor_cell")),
        Seq("anchor_id"))
      .withColumn("bucket", explode(array(signBucket("qv", planes) +: probes: _*)))
      .repartition(buckets, col("bucket"))
    // a candidate has ONE bucket and the probe buckets are distinct, so
    // no pair is generated twice — no distinct needed before the window
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(desc("sim"), asc("negative_id"))
    c.join(q, Seq("bucket"))
      .filter(col("cand_id") =!= col("anchor_id") &&
        col("cand_cell") =!= col("anchor_cell"))
      .select(col("anchor_id"), col("cand_id").as("negative_id"),
        (dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Margin-based parallel-text mining (the CCMatrix/LASER criterion):
    * a source-side vector accepts its best target-side neighbor only
    * when the top-1 cosine clearly beats the neighborhood average —
    * margin = sim₁·4 / (((sim₁+sim₂)+sim₃)+sim₄) over the top-4. An
    * absolute cosine threshold can't separate "genuine translation"
    * from "hubness" (vectors near everything); the margin ratio can.
    *
    * Every double op is written in a fixed order (the parenthesization
    * above) so a DuckDB oracle replays the identical IEEE sequence.
    * Queries with fewer than 4 corpus candidates get NULL for the
    * missing sims, hence NULL margin and NULL accepted — the same rows
    * a pivoted row_number oracle produces (and no ANSI out-of-bounds
    * error on the array reads).
    *
    * Scale: queries are broadcast (the bounded mining batch), the
    * corpus streams, and the per-query top-4 rides the bounded-heap
    * [[graft.functions.TopKStruct]] aggregate — each map task emits ≤4
    * rows per query, so no |corpus|-sized window sort and the exchange
    * after the cross product carries O(|queries|·4·tasks) rows.
    */
  def marginMining(corpus: DataFrame, queries: DataFrame, minMargin: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cnorm", norm("cv"))
    val q = queries.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("qnorm", norm("qv"))
    // size-guarded reads: a corpus with < 4 candidates must yield NULL
    // sims (hence NULL margin and NULL accepted), exactly what the
    // pivoted row_number oracle produces — and a bare element_at past
    // the array end would THROW under ANSI mode instead
    def simAt(i: Int): Column =
      when(size(col("top")) >= i,
        element_at(col("top"), i).getField("sim")).as(s"sim$i")
    c.crossJoin(broadcast(q))
      .select(col("query_id"), col("cand_id"),
        (dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKStruct.topK(
        struct(col("sim"), col("cand_id")), 4, true, false).as("top"))
      .select(col("query_id"),
        when(size(col("top")) >= 1,
          element_at(col("top"), 1).getField("cand_id")).as("best_id"),
        simAt(1), simAt(2), simAt(3), simAt(4))
      .withColumn("margin",
        col("sim1") * lit(4.0) /
          (((col("sim1") + col("sim2")) + col("sim3")) + col("sim4")))
      .select(col("query_id"), col("best_id"), col("sim1"), col("margin"),
        (col("margin") >= minMargin).as("accepted"))
  }

  /** Matryoshka truncation recall audit: top-k by PREFIX-dimension
    * cosine vs top-k by full-dimension cosine, overlap per query — the
    * measurement that justifies (or indicts) serving a truncated
    * Matryoshka embedding as the first-stage scan (MRL serving keeps
    * the first d′ ≪ d coordinates and re-ranks survivors at full
    * width; this query reports exactly what the truncation alone
    * loses). Same audit contract as [[annRecall]] — ground truth and
    * candidate path both exact and deterministic, recall in integer
    * permille — so the two screens (geometric truncation vs sign-LSH
    * bucketing) are directly comparable numbers.
    *
    * Both passes here are brute-force on the bounded query sample (the
    * oracle must replay them exactly); at corpus scale the truncated
    * pass is the thing being *costed*, not the audit's bottleneck —
    * the audit always runs on a sample.
    */
  def mrlRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      prefixDim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
    def truncate(df: DataFrame) =
      df.select(col(idCol), slice(col(vecCol), 1, prefixDim).as(vecCol))
    val approx = bruteForceTopK(truncate(corpus), truncate(queries), k,
        idCol, vecCol)
      .select(col("query_id"), col("cand_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_permille", expr("n_hit * 1000 div n_exact"))
  }

  /** Symmetric per-vector int8 scalar quantization with an in-query
    * reconstruction-error audit — the storage-tier counterpart of the
    * PQ codebooks: q_i = round(x_i/scale·127) at scale = max|x_i|, and
    * the error a dot product against the reconstruction would absorb.
    *
    * Every emitted number is an exact integer so the oracle compare is
    * value-exact: the round is floor(v/scale·127 + 0.5) (IEEE double
    * ops in one fixed association), errors are floor(|x−recon|·1e6)
    * micro-units, and the code vector is pinned by a position-weighted
    * checksum Σ q_i·i rather than 64 output columns. `n_sat` counts
    * saturated codes (|q| = 127 — exactly the max-magnitude dims).
    *
    * Per-row projection only — no shuffle, no UDF; at 100 TB this is a
    * scan-speed rewrite pass, and the audit columns are what a
    * pipeline monitors to decide int8-vs-PQ per corpus slice (mean
    * micro-unit error ≈ scale/254·1e6 when dims are well-spread;
    * heavy-tailed dims push `max_err_us` toward the budget first).
    */
  def scalarQuantize(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val base = df
      .select(col(idCol), transform(col(vecCol), v => v.cast("double")).as("x"))
      .withColumn("scale", array_max(transform(col("x"), v => abs(v))))
    val q = base.withColumn("qs",
      when(col("scale") === 0d, transform(col("x"), _ => lit(0L)))
        .otherwise(transform(col("x"),
          v => floor(v / col("scale") * 127 + 0.5).cast("long"))))
    q.withColumn("errs",
        zip_with(col("x"), col("qs"), (v, qq) =>
          floor(abs(v - (qq.cast("double") * col("scale")) / 127) * 1e6)
            .cast("long")))
      .select(col(idCol),
        floor(col("scale") * 1e6).cast("long").as("scale_us"),
        aggregate(
          zip_with(col("qs"), sequence(lit(1), size(col("qs"))),
            (a, b) => a * b.cast("long")),
          lit(0L), (acc, y) => acc + y).as("checksum"),
        size(filter(col("qs"), v => abs(v) === 127)).cast("long").as("n_sat"),
        array_max(col("errs")).as("max_err_us"),
        aggregate(col("errs"), lit(0L), (a, b) => a + b).as("sum_err_us"))
  }

  /** STREAMING semantic-contamination screen: incoming vectors join the
    * broadcast static benchmark sample and emit one row per
    * (candidate, benchmark) HIT at cosine ≥ tNum/tDen — the admission
    * gate a corpus-ingest stream runs before new data can touch a
    * training mix (q_semantic_contamination's per-bench rollup is the
    * batch report over the same verdicts). Entirely STATELESS: every
    * decision is per-row against the static side, so stream ≡ batch by
    * construction across any micro-batch split (asserted in
    * ContaminationStreamSpec, not assumed). The threshold is the
    * fp-free cross-multiply dp·tDen² ≥ |a|²·|b|²·tNum² (dp > 0) over
    * floor(x·1000) integer vectors; `cos2_bp` reports the hit's
    * DECIMAL-exact squared cosine in basis points.
    *
    * Scale: the benchmark is the broadcast-bounded sample
    * (localCheckpoint'd once, not recomputed per micro-batch); the
    * stream side is one projection + one broadcast join per batch —
    * no state store at all.
    */
  def contaminationScreenStream(stream: DataFrame, bench: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tNum: Int = 4, tDen: Int = 5): DataFrame = {
    def iv(c: Column) = transform(c.cast("array<double>"),
      x => floor(x * 1000).cast("long"))
    def dotI(a: String, b: String) = aggregate(
      zip_with(col(a), col(b), (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val b = bench
      .select(col(idCol).as("bench_id"), iv(col(vecCol)).as("bv"))
      .withColumn("bn", dotI("bv", "bv"))
      .withColumn("one", lit(1))
      .localCheckpoint()
    stream
      .select(col(idCol).as("cand_id"), iv(col(vecCol)).as("cv"))
      .withColumn("cn", dotI("cv", "cv"))
      .withColumn("one", lit(1))
      .join(broadcast(b), Seq("one"))
      .select(col("cand_id"), col("bench_id"),
        dotI("bv", "cv").as("dp"), col("bn"), col("cn"))
      .filter(col("dp") > 0 &&
        col("dp") * col("dp") * (tDen * tDen) >=
          col("bn") * col("cn") * (tNum * tNum))
      .select(col("cand_id"), col("bench_id"),
        expr("""CAST(CAST(dp AS DECIMAL(38,0)) * dp * 10000 div
               |  (CAST(bn AS DECIMAL(38,0)) * cn) AS BIGINT)""".stripMargin)
          .as("cos2_bp"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein,
    * SIGIR'98) with λ = 1/2: greedily pick k results maximizing
    * `relevance − max_{s ∈ selected} sim(·, s)` — the diversification
    * step a retrieval pipeline runs over its candidate window so the
    * top-k aren't k copies of the same answer.
    *
    * Everything is exact integer arithmetic over floor(x·1000)
    * quantized vectors with DOT PRODUCT as both the relevance and the
    * redundancy metric (MMR is metric-agnostic; dots keep every
    * comparison int64-exact, so the greedy trace is reproducible on
    * any engine — ties break to the smaller id, the first pick's
    * penalty is 0 by convention). With λ = 1/2 the argmax of
    * λ·rel − (1−λ)·maxsim is the argmax of rel − maxsim, so no
    * fraction ever appears.
    *
    * Scale shape: the candidate window is produced DISTRIBUTED (one
    * corpus scan against the broadcast query vector, top-candK by
    * (rel, id)), and the greedy runs on the collected candK×candK
    * integer dot matrix — driver-bounded BY CONSTRUCTION (candK ≤ 64
    * enforced; a rerank window is a bounded object in any real
    * retrieval system, never corpus-sized). The corpus is touched
    * exactly once.
    */
  def mmrRerank(corpus: DataFrame, queryId: Long, candK: Int, k: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(candK >= k && k >= 1, "need candK >= k >= 1")
    require(candK <= 64, "rerank window must stay driver-bounded")
    val spark = corpus.sparkSession
    def iv(c: Column) = transform(c.cast("array<double>"),
      x => floor(x * 1000).cast("long"))
    def dotI(a: String, b: String) = aggregate(
      zip_with(col(a), col(b), (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val e = corpus.select(col(idCol).cast("long").as("id"),
      iv(col(vecCol)).as("v"))
    val q = e.filter(col("id") === queryId)
      .select(col("v").as("qv"), lit(1).as("one"))
    val cands = e.filter(col("id") =!= queryId)
      .withColumn("one", lit(1))
      .join(broadcast(q), Seq("one"))
      .select(col("id"), col("v"), dotI("v", "qv").as("rel"))
      .orderBy(desc("rel"), asc("id"))
      .limit(candK)
      .localCheckpoint() // two consumers below (rels + pair matrix)
    val rels = cands.select(col("id"), col("rel"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val ca = cands.select(col("id").as("ia"), col("v").as("va"))
    val cb = cands.select(col("id").as("ib"), col("v").as("vb"))
    val dots = ca.crossJoin(cb).filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"), dotI("va", "vb").as("dp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // greedy trace on the bounded window: rank, id, rel, penalty, 2·score
    // (a window smaller than k — tiny or empty corpus — emits what it has)
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = (1 to math.min(k, rels.length)).map { rank =>
      val scored = rels.filter { case (id, _) => !selected.contains(id) }
        .map { case (id, rel) =>
          val pen =
            if (selected.isEmpty) 0L
            else selected.map(s => dots((id, s))).max
          (id, rel, pen, rel - pen)
        }
      val (id, rel, pen, sc) =
        scored.minBy { case (id, _, _, sc) => (-sc, id) }
      selected += id
      (rank.toLong, id, rel, pen, sc)
    }
    import spark.implicits._
    out.toDF("rank", "vec_id", "rel_units", "penalty_units", "score2_units")
  }

  /** k-NN density outlier score (an LOF-style ratio — Breunig et al.
    * SIGMOD'00, simplified to the k-distance ratio): for a hash-
    * selected query sample, dk²(q) = squared L2 distance to q's k-th
    * nearest neighbor, and the outlier score is dk²(q) against the
    * MEAN dk² of q's own k neighbors — a point in a sparse region
    * scores > 1, the signal embedding-curation uses to prune
    * mis-embedded/garbage vectors before ANN indexing.
    *
    * Exactness: distances are integer squared-L2 over floor(x·1000)
    * quantized components (≤ ~10⁹ per pair at dim 64 — int64-safe);
    * the ratio is emitted as the exact pair (num = k·dk²(q),
    * den = Σ neighbor dk²) plus a DECIMAL-divided basis-point score,
    * so the oracle is hash-exact.
    *
    * Scale shape: TWO broadcast corpus scans — pass 1 ranks the
    * corpus against the |sample| broadcast queries, pass 2 ranks it
    * against the (|sample|·k)-bounded neighbor set ∪ queries. No
    * corpus×corpus product anywhere; both query sides are
    * broadcast-bounded by construction.
    */
  def knnDensity(corpus: DataFrame, sampleMod: Long, k: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be positive")
    def iv(c: Column) = transform(c.cast("array<double>"),
      x => floor(x * 1000).cast("long"))
    // native codegen'd loop — one eval per corpus×sample PAIR; the HOF
    // composition's per-pair zip allocation was the measured hot spot
    def d2(a: String, b: String) =
      graft.functions.VectorFunctions.vec_sqdist_long(col(a), col(b))
    val e = corpus.select(col(idCol).cast("long").as("id"), iv(col(vecCol)).as("v"))
    def knnOf(queries: DataFrame): DataFrame = {
      // queries: (qid, qv) — bounded; corpus streams past the broadcast.
      // The k-NN pick rides the bounded-heap TopKStruct aggregate
      // ((dist2, cid) ascending — the same tie rule the oracle replays),
      // NOT a row_number window: partial aggregation keeps at most k
      // candidates per query per map task without sorting the
      // |corpus|×|queries| product (each query's group is the whole
      // corpus, the heap side of Ranking.topKPerGroup's rule; the array
      // form feeds the size filter below). Queries with fewer than k
      // neighbors (sub-k corpora) surface no k-distance and drop here,
      // exactly as the rn == k filter dropped them downstream before.
      e.crossJoin(broadcast(queries))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"),
          struct(d2("qv", "v").as("dist2"), col("id").as("cid")).as("sc"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopKStruct.topK(col("sc"), k, false, false)
          .as("top"))
        .filter(size(col("top")) === k)
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("qid"), col("s.cid").as("cid"),
          col("s.dist2").as("dist2"), (col("pos") + 1).cast("int").as("rn"))
    }
    val qs = e.filter(col("id") % sampleMod === 0)
      .select(col("id").as("qid"), col("v").as("qv"))
    val nn = knnOf(qs).persist()
    val nbIds = nn.select(col("cid").as("nbid")).distinct()
    val nbQs = e.join(nbIds, col("id") === col("nbid"))
      .select(col("id").as("qid"), col("v").as("qv"))
    val dkNb = knnOf(nbQs).filter(col("rn") === k)
      .select(col("qid").as("nbid"), col("dist2").as("nb_dk2"))
    val dkQ = nn.filter(col("rn") === k)
      .select(col("qid"), col("dist2").as("dk2"))
    val out = nn.select(col("qid"), col("cid"))
      .join(dkNb, col("cid") === col("nbid"))
      .groupBy(col("qid"))
      .agg(sum(col("nb_dk2")).as("den"))
      .join(dkQ, Seq("qid"))
      .select(col("qid").as("vec_id"), col("dk2"),
        (col("dk2") * k).as("num"), col("den"))
      .withColumn("score_bp",
        expr("CAST(CAST(num AS DECIMAL(38,0)) * 10000 div den AS BIGINT)"))
    graft.core.CacheScope.releaseAfterUse(out, nn)
  }
}
