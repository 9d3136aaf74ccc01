package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Similarity

/** Similarity-search queries (SURVEY.md §2.3 E3) over `embeddings`.
  *
  * The DuckDB oracle reproduces Spark's cosine bit-for-bit because both
  * sides compute the identical IEEE operation sequence: a left fold over
  * the array in index order (Spark `aggregate` HOF ↔ DuckDB
  * `list_reduce`), then dot/(sqrt·sqrt) — so even raw double sims
  * hash-match, no rounding needed.
  */
object SimilarityQueries {

  /** Fixed-size audit subset for the EXACT all-pairs variants (`q_embedding_nn`,
    * `q_embedding_neardup`, `q_embedding_clusters`). Exact pairwise cosine is
    * O(n²) compute by definition, so the catalog never runs it over the whole
    * corpus: these queries bound their input to the first `exactCap` vectors —
    * a constant, so their cost is O(1) in corpus size at any SF — and serve as
    * the always-on exact baseline for the full-corpus ANN twins
    * (`q_embedding_ann`, `q_embedding_neardup_ann`, `q_embedding_clusters_ann`),
    * which are the 100 TB path. Full-corpus exact-vs-ANN agreement is asserted
    * in `EmbeddingCrossValidationSpec`, not benchmarked.
    */
  private val exactCap = 500

  // IVF-PQ search with the shared (q_knn_ivfpq) and residual
  // (q_knn_ivfpq_res) codebooks. Each also serves its former
  // `_packed` name: there is one IVF-PQ probe, so the pair now runs one
  // plan, and the alias keeps the catalog's names and oracles intact.
  private val knnIvfpq: Q = (s, d) =>
    Similarity.ivfPqSearch(Tables.embeddings(s, d),
      col("vec_id") % 25 === 0, k = 5, nlist = 8, nprobe = 2,
      m = 4, nCent = 8)
  private val knnIvfpqRes: Q = (s, d) =>
    Similarity.ivfPqResidualSearch(Tables.embeddings(s, d),
      col("vec_id") % 25 === 0, k = 5, nlist = 8, nprobe = 2,
      m = 4, nCent = 8)

  val queries: Map[String, Q] = Map(

    // Exact Gram (uncentered covariance) matrix over the first 16
    // embedding dims — the distributed front half of PCA/whitening, in
    // the catalog's floor(x·1000) integer arithmetic so the 136
    // upper-triangle sums are hash-exact cross-engine. Plan: per-row
    // pair expansion (136×, bounded by dims² not rows) into one
    // partial+final aggregation; at a production dim count the same
    // sums ride a TypedImperativeAggregate outer-product buffer
    // instead of the explode (noted in SCALE.md).
    "q_embedding_gram" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(graft.operators.Spectral.quantized("embedding", 16).as("q"))
        .select(explode(expr(
          """flatten(transform(sequence(0, 15), i ->
            |  transform(sequence(i, 15), j ->
            |    named_struct('i', i, 'j', j,
            |      'p', element_at(q, i + 1) * element_at(q, j + 1)))))""".stripMargin))
          .as("c"))
        .groupBy(col("c.i").cast("long").as("i"),
          col("c.j").cast("long").as("j"))
        .agg(sum(col("c.p")).as("gram_q"))
    }),

    // Dominant eigenvector of the integer Gram matrix by 10 rounds of
    // INTEGER power iteration (Spectral.dominantEigenvector): the only
    // distributed step is the Gram aggregation; the 16x16 iteration
    // runs on the driver, and because every step is exact integer
    // arithmetic the DuckDB oracle replays the identical sequence in a
    // recursive CTE - a hash-gated eigensolve, not a tolerance check.
    "q_power_iteration" -> ((s, d) =>
      graft.operators.Spectral.dominantEigenvector(
        Tables.embeddings(s, d), "embedding", dims = 16, iters = 10)),

    // 1-D spectral embedding: every vector's exact integer projection
    // onto the dominant eigenvector from q_power_iteration, top-20 by
    // |score| (the "most extreme along the principal direction"
    // outlier/diversity probe). The eigenvector is collected (16
    // longs) and folded in as an array literal; scores ride the
    // codegen'd vec_dot_long. All integers -> the oracle replays the
    // iteration AND the projection exactly.
    "q_spectral_scores" -> ((s, d) => {
      import graft.functions.VectorFunctions.vec_dot_long
      val emb = Tables.embeddings(s, d)
      val v = graft.operators.Spectral
        .dominantEigenvectorArray(emb, "embedding", dims = 16, iters = 10)
      emb.select(col("vec_id"),
          graft.operators.Spectral.quantized("embedding", 16).as("q"))
        .withColumn("score_q", vec_dot_long(col("q"), lit(v)))
        .orderBy(abs(col("score_q")).desc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"), col("score_q"))
    }),

    // Exact top-10 cosine for 10 query vectors against the corpus.
    "q_knn_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // kNN LABEL PROPAGATION (pseudo-labeling): vectors with
    // vec_id % 5 = 0 keep their gold label; every other vector takes
    // the majority label of its 5 nearest labeled neighbors (cosine,
    // ties → lower cand_id; vote ties → lower label), reported next to
    // its held-back gold label — the semi-supervised bootstrap +
    // accuracy audit in one pass. On THIS corpus the audit's verdict
    // is chance-level accuracy (~10% over 10 classes): the gold labels
    // are independent of embedding geometry, which is precisely the
    // failure the accuracy column exists to catch before pseudo-labels
    // get trusted (SimilaritySpec pins both this and the
    // clustered-fixture success case). Exact kNN here (the corpus is
    // the bounded embeddings table); at scale the neighbor stage swaps
    // for the bucketed/IVF variants unchanged, since the vote only
    // reads (query_id, neighbor label, rank).
    "q_knn_labelprop" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val known = emb.filter(col("vec_id") % 5 === 0)
      val unk = emb.filter(col("vec_id") % 5 =!= 0)
      // corpus-broadcast variant: the labeled 20% is the SMALL side
      // here; the stock helper would broadcast the 80% query slice
      val nn = Similarity.bruteForceTopKFromBroadcastCorpus(known, unk, 5)
      val votes = nn.join(known.select(col("vec_id").as("cand_id"),
          col("label").cast("long").as("nlabel")), Seq("cand_id"))
        .groupBy(col("query_id"), col("nlabel")).agg(count(lit(1)).as("cnt"))
      val pred = votes.groupBy(col("query_id"))
        .agg(max(struct(col("cnt"), (-col("nlabel")).as("negl"))).as("m"))
        .select(col("query_id"), col("m.cnt").as("votes"),
          (-col("m.negl")).as("pred_label"))
      pred.join(unk.select(col("vec_id").as("query_id"),
          col("label").cast("long").as("true_label")), Seq("query_id"))
        .select(col("query_id"), col("pred_label"), col("votes"),
          col("true_label"),
          (col("pred_label") === col("true_label")).as("correct"))
    }),

    // Approximate top-10 via sign-LSH buckets (3 planes → 8 buckets):
    // the scale-path plan (equi-join on bucket, no cross product).
    "q_knn_bucketed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 10), 10, planes = 3)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // Skew guard rail for data-dependent buckets (the E2 cap
    // discipline on the search side): candidates bounded at the 40
    // lowest-id rows per bucket, so a cluster-concentrated bucket can
    // never explode the equi-join — deterministic drops, measured
    // motivation in SCALE.md §Round-13 (clustered LSH walls).
    "q_knn_bucketed_capped" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 10), 10,
        planes = 3, maxBucketCandidates = Some(40))
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // Per-bucket occupancy audit — the LSH twin of q_ivf_balance (r13
    // verdict #3: "per-bucket occupancy is what the clustered-skew
    // claim rides on, make it a number"): for the 3-plane sign-LSH
    // table, members per bucket uncapped vs rows kept by the
    // 40-lowest-id cap. The probe cost bound Σ min(|bucket|, cap)
    // holds only if this table says so; at scale this is the audit a
    // materialized capped index ships with (ScaleSweep's lsh-indexed
    // occ_max/occ_p99 columns are the same numbers at 100k-10M).
    "q_lsh_occupancy" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val full = Similarity.lshBucketTable(emb, planes = 3)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_members"))
      val capped = Similarity.lshBucketTable(emb, planes = 3,
          maxBucketCandidates = Some(40))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_kept"))
      full.join(capped, Seq("bucket"))
        .select(col("bucket").cast("long").as("bucket"),
          col("n_members"), col("n_kept"))
    }),

    // Multi-probe twin of q_knn_bucketed: each query also probes its 3
    // Hamming-1 buckets (the probe set approxNearestNeighbor uses). The
    // r12 simsearch sweep measured WHY this is the scale path: under
    // planes-grow-with-the-corpus, single-probe recall@10 decays
    // (0.38 → 0.28 across 100× corpus) while the probe set growing with
    // planes holds it. The oracle mirrors the probe list exactly, so
    // the gate stays hash-strict despite the operator being approximate.
    "q_knn_bucketed_mp" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 10), 10,
          planes = 3, multiProbe = true)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // Embedding near-dup primitive: nearest neighbor for every vector in
    // the bounded audit subset — exact, via the grid-blocked equi-join
    // (no broadcast, no BNLJ). Full-corpus NN is q_embedding_ann below.
    "q_embedding_nn" -> ((s, d) =>
      Similarity.nearestNeighbor(
        Tables.embeddings(s, d).filter(col("vec_id") < exactCap))),

    // Sub-quadratic ANN variant: sign-LSH buckets + Hamming-1 multi-probe.
    // The oracle mirrors the probing exactly, so the comparison is
    // hash-strict even though the operator itself is approximate.
    "q_embedding_ann" -> ((s, d) =>
      Similarity.approxNearestNeighbor(Tables.embeddings(s, d), planes = 4)),

    // E2 embedding-cosine near-dup pairs: every pair at cosine >= 0.4
    // within the bounded audit subset (exact pairwise is O(n²) — never
    // full-corpus in the catalog; q_embedding_neardup_ann is the
    // full-corpus scale path).
    "q_embedding_neardup" -> ((s, d) =>
      Similarity.cosineNearDuplicates(
        Tables.embeddings(s, d).filter(col("vec_id") < exactCap),
        threshold = 0.4)),

    // Full-corpus near-dup PAIRS, sub-quadratic: sign-LSH Hamming≤1
    // screen → exact cosine verify on candidates only. The oracle
    // mirrors the screen, so the gate stays hash-strict.
    "q_embedding_neardup_ann" -> ((s, d) =>
      Similarity.annNearDuplicates(Tables.embeddings(s, d), threshold = 0.4,
        planes = 4)),

    // Embedding-space dedup CLUSTERS over the bounded audit subset:
    // transitive closure over the exact cosine near-dup pair graph
    // (same label propagation as the text pipeline — the pair source
    // swaps, the closure does not). The input cap keeps the exact
    // O(n²) pair generation at constant cost; the 100 TB path is
    // q_embedding_clusters_ann below, which swaps in the sub-quadratic
    // LSH screen over the FULL corpus and keeps this closure unchanged.
    // Full-corpus exact-vs-ANN agreement: EmbeddingCrossValidationSpec.
    "q_embedding_clusters" -> ((s, d) =>
      graft.operators.Dedup.connectedComponents(
        Similarity.cosineNearDuplicates(
          Tables.embeddings(s, d).filter(col("vec_id") < exactCap),
          threshold = 0.4),
        "vec_id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), max(col("vec_id")).as("max_id"))),

    // The scale path for embedding dedup clusters: sign-LSH multi-probe
    // screen (linear compute) → exact cosine verify on candidates →
    // the same connected-components closure. The oracle mirrors the
    // screen (bucket Hamming distance ≤ 1), so the comparison stays
    // hash-strict despite the candidate generation being approximate.
    "q_embedding_clusters_ann" -> ((s, d) =>
      graft.operators.Dedup.connectedComponents(
        Similarity.annNearDuplicates(Tables.embeddings(s, d), threshold = 0.4,
          planes = 4),
        "vec_id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), max(col("vec_id")).as("max_id"))),

    // Margin-based bitext mining (CCMatrix criterion): even vec_ids
    // play the source language, odd ones the target; a bounded mining
    // batch (query side < 200) accepts its best target neighbor only
    // when top-1 cosine clearly beats the top-4 mean. Top-4 rides the
    // bounded-heap TopKStruct aggregate — no |corpus|-sized window
    // sort; the oracle replays the identical IEEE op order.
    "q_bitext_margin" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.marginMining(
        emb.filter(col("vec_id") % 2 === 1),
        emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 200),
        minMargin = 1.05)
    }),

    // IVF-style top-10: 8 seeded centroids, 2 probes per query — the
    // data-adaptive bucketed scale path (vs q_knn_bucketed's fixed
    // sign planes).
    "q_knn_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 10,
        nlist = 8, nprobe = 2)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // IVF with SAMPLED-K-MEANS-TRAINED centroids (r12 verdict #4's
    // training variant): 4 lists trained on the vec_id%2==0
    // half-sample via one exact-integer Lloyd pass, then the same
    // assign/probe pipeline as q_knn_ivf. The scale posture: training
    // cost rides the SAMPLE (pick sampleMod so it's ~10⁵-10⁶ vectors at
    // 100 TB), the full corpus pays only the codegen'd assignment
    // projection — same oracle scaffolding as q_knn_ivf with a trained
    // cent CTE.
    "q_knn_ivf_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.ivfKmeansCentroids(emb, nlist = 4, sampleMod = 2)
      Similarity.ivfProbe(Similarity.ivfAssign(emb, cents), cents,
        emb.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // Streaming ANN probe, gated through the batch path (r14 verdict
    // #5): Similarity.ivfProbeStream is stateless by construction —
    // nothing in the operator is streaming-only — so running it on a
    // batch query frame exercises the EXACT code path every
    // micro-batch runs (AnnStreamSpec pins stream ≡ batch across
    // splits), and its contract equals ivfProbe. Same index, query
    // sample and k as q_knn_ivf, same oracle.
    "q_ann_probe_stream" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.ivfCentroids(emb, 8)
      val groups = Similarity.ivfListGroups(Similarity.ivfAssign(emb, cents))
      Similarity.ivfProbeStream(groups, cents,
          emb.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // The SHARDED streaming probe (r15: no whole-index broadcast — the
    // co-partitioned-cache layout for corpora past the broadcast
    // ceiling), gated the same way through its batch twin.
    "q_ann_probe_sharded" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.ivfCentroids(emb, 8)
      val sharded = Similarity.ivfShardedIndex(
        Similarity.ivfListGroups(Similarity.ivfAssign(emb, cents)))
      Similarity.ivfProbeStreamSharded(sharded, cents,
          emb.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // Incremental index maintenance (r15): build the index on 80% of
    // the corpus, UPSERT the remaining 20% PLUS a re-ingested overlap
    // slice (vec_id%10==1 — already in the base, so the replace-by-id
    // path runs, not just append), probe. Because the re-ingested
    // vectors are byte-identical, ingest-then-probe must EQUAL the
    // full-build probe — so the gate is q_knn_ivf's own oracle, and
    // any drift in the upsert's anti-join/union semantics breaks the
    // hash. The scale claim under test: the corpus-side index is never
    // shuffled (broadcast anti-join on the delta's id column).
    "q_knn_ivf_ingest" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.ivfCentroids(emb, 8)
      val base = Similarity.ivfAssign(emb.filter(col("vec_id") % 5 =!= 0), cents)
      val delta = emb.filter(col("vec_id") % 5 === 0 || col("vec_id") % 10 === 1)
      Similarity.ivfProbe(Similarity.ivfUpsert(base, cents, delta), cents,
          emb.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // Predicate-filtered ANN (r15): top-k restricted to candidates
    // whose metadata row passes a predicate (documents.lang = 'en',
    // doc_id ≡ vec_id) — the "search only within X" production shape.
    // The filter is a pre-ranking semi-join (post-filtering returns
    // ~selectivity·k survivors; IvfLifecycleSpec pins the divergence);
    // queries and centroids stay unfiltered. Oracle = the IVF replay
    // with the same metadata join in its candidate CTE.
    "q_knn_filtered" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.ivfCentroids(emb, 8)
      val allowed = Tables.documents(s, d)
        .filter(col("lang") === "en").select(col("doc_id"))
      Similarity.ivfProbeFiltered(Similarity.ivfAssign(emb, cents), cents,
          emb.filter(col("vec_id") < 10), allowed, 10, nprobe = 2)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),

    // Inverted-list occupancy audit for both coarse quantizers: at
    // scale the PROBE cost bound (~nprobe·N/nlist per query) holds
    // only if lists stay balanced, so list sizes are a first-class
    // auditable output, not a side effect. "rank" = the lowest-id
    // rank-select centroids q_knn_ivf uses; "trained" = the sampled
    // one-pass-Lloyd centroids q_knn_ivf_trained uses.
    "q_ivf_balance" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      def occ(cents: org.apache.spark.sql.DataFrame, variant: String) =
        Similarity.ivfAssign(emb, cents)
          .groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("n_members"))
          .select(lit(variant).as("variant"), col("centroid_id"),
            col("n_members"))
      occ(Similarity.ivfCentroids(emb, 4), "rank")
        .unionAll(occ(
          Similarity.ivfKmeansCentroids(emb, nlist = 4, sampleMod = 2),
          "trained"))
    }),

    // Product-quantization codes: 4 subspaces × 8 rank-seeded centroids,
    // argmin in exact floor(x·1000) integer arithmetic — hash-strict vs
    // the oracle despite being a compression step.
    "q_pq_codes" -> ((s, d) =>
      Similarity.pqCodes(Tables.embeddings(s, d), m = 4, nCent = 8)),

    // Sparse lexical top-k neighbors: TF-IDF 3-gram cosine through an
    // inverted-index join with a posting-length cap — the model-free
    // sparse complement of the dense ANN family. Integer weights,
    // exact dot/norms, fixed-association cosine; per-doc top-3 rides
    // the bounded-heap TopKStruct.
    "q_sparse_knn" -> ((s, d) =>
      graft.operators.TextAnalysis.sparseNeighbors(
        Tables.documents(s, d), "text", "doc_id",
        n = 3, k = 3, maxDf = 50, scale = 100)),

    // Int8 scalar quantization + reconstruction-error audit: the
    // storage-tier compression decision (int8 vs PQ) made measurable —
    // exact integer scale/checksum/saturation/error columns per vector.
    "q_sq8" -> ((s, d) =>
      Similarity.scalarQuantize(Tables.embeddings(s, d), "embedding", "vec_id")),

    // SemDeDup-style semantic dedup over the FULL corpus: k-means cells
    // as the candidate screen (data-adaptive, vs the sign-LSH screens
    // above), exact integer cosine ≥ 2/5 as the in-cell verify, per-cell
    // prune accounting. Pairwise compute is Σ|cell|² — pick k ∝ corpus
    // and this stays linear where exact all-pairs cannot.
    "q_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), k = 8,
        tauNum = 2, tauDen = 5)),

    // PQ serving path: ADC top-5 for every 25th vector as the query
    // set — corpus scored through its codes (m lookups/vector), raw
    // vectors never touched after encoding. Exact integer ADC on the
    // floor(x·1000) grid → hash-strict despite being an approximation
    // of true L2.
    "q_pq_search" -> ((s, d) =>
      Similarity.pqSearch(Tables.embeddings(s, d),
        col("vec_id") % 25 === 0, k = 5, m = 4, nCent = 8)),

    // IVF-PQ composed search (the IVFADC layout): coarse-quantizer list
    // restriction (q_knn_ivf's assignment, nprobe=2 of 8 lists) with
    // PQ-ADC scoring inside the probed lists (q_pq_search's codes/LUT)
    // — raw vectors touched at build only, probe scans ~nprobe/nlist of
    // the code rows. Same query sample as q_pq_search so the two
    // catalogs price the list restriction directly.
    "q_knn_ivfpq" -> knnIvfpq,
    "q_knn_ivfpq_packed" -> knnIvfpq,

    // RESIDUAL IVF-PQ (the faithful IVFADC): codes quantize
    // x − coarse_centroid, so the codewords resolve within-list
    // structure the shared codebook of q_knn_ivfpq cannot express
    // (the r14 sweep measures the difference as recall). Same coarse
    // quantizer, query sample and k as q_knn_ivfpq — the pair prices
    // residual encoding directly. Rank-select residual codebook
    // (deterministic; the trained twin is sweep-priced + spec-pinned).
    "q_knn_ivfpq_res" -> knnIvfpqRes,
    "q_knn_ivfpq_res_packed" -> knnIvfpqRes,

    // PER-LIST ("local") residual codebooks — the capacity fix the
    // r14 sweep measures the need for: a SHARED residual codebook
    // needs one codeword per (cluster, list) offset mode; per-list
    // codebooks divide the mode space by nlist (clustered 1M recall
    // 0.223 shared → 0.672 local at identical code width). Same
    // scaffolding/sample/k as the q_knn_ivfpq pair; rank-select
    // per-list codebooks (the trained twin is sweep-priced).
    "q_knn_ivfpq_local" -> ((s, d) =>
      Similarity.ivfPqLocalSearch(Tables.embeddings(s, d),
        col("vec_id") % 25 === 0, k = 5, nlist = 8, nprobe = 2,
        m = 4, nCent = 8)),

    // IVF-PQ with a TRAINED (sampled per-subspace Lloyd) codebook —
    // the q_knn_ivf_trained discipline applied to the product
    // quantizer: half-sample (vec_id%2==0), rank-select seeds, one
    // integer-L2 Lloyd pass per subspace, codeword cell = truncating
    // integer mean (SUM div COUNT — the oracle replays it as
    // TRUNC(double-exact sum / count)); empty cells keep their seed.
    // Same coarse scaffolding / query sample / k as the q_knn_ivfpq
    // family, so the row prices codebook training alone.
    "q_knn_ivfpq_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.ivfCentroids(emb, 8)
      val cb = Similarity.pqKmeansCodebook(emb, m = 4, nCent = 8,
        sampleMod = 2)
      val (index, cbOut, lists) = Similarity.ivfPqBuild(emb, cents, m = 4,
        nCent = 8, codebook = Some(cb))
      Similarity.ivfPqProbe(index, lists, cbOut,
        emb.filter(col("vec_id") % 25 === 0), k = 5, nprobe = 2, m = 4)
    }),

    // Recall@10 of the IVF-PQ compressed index (rank-select codebook,
    // nprobe=2 of 8 lists) vs brute-force cosine ground truth on the
    // standard query sample — the eval loop the r14 sweep runs at
    // scale, in-catalog and oracle-gated. Low recall here is the
    // measured price of 4-byte codes at dim 64; the sweep's residual /
    // per-list columns price the fixes.
    "q_ivfpq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAudit(
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
          .select(col("query_id"), col("cand_id")),
        Similarity.ivfPqSearch(emb, col("vec_id") < 10, k = 10,
            nlist = 8, nprobe = 2, m = 4, nCent = 8)
          .select(col("query_id"), col("neighbor_id").as("cand_id")))
    }),

    // Recall@10 of the sign-LSH bucketed screen vs brute-force ground
    // truth on the standard query sample — the audit that justifies
    // (or indicts) q_knn_bucketed's plane count. Exact integer permille.
    "q_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.annRecall(emb, emb.filter(col("vec_id") < 10), 10, planes = 3)
    }),

    // Matryoshka truncation audit: recall@10 of the 16-dim-prefix
    // cosine top-k against full 64-dim ground truth on the standard
    // query sample — what serving a truncated embedding would lose.
    "q_mrl_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mrlRecall(emb, emb.filter(col("vec_id") < 10), 10,
        prefixDim = 16)
    }),

    // Hard-negative mining for contrastive training: per anchor, top-3
    // most-similar vectors from a DIFFERENT k-means cell — sign-LSH
    // multi-probe candidates × the semanticDedup cell partition, all
    // bucket/cell equi-joins (never all-pairs).
    "q_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), k = 3, planes = 4,
        cells = 8)),

    // Hybrid retrieval with reciprocal-rank fusion: the two-system
    // shape every modern retrieval/curation stack runs — a lexical
    // ranker (token-set Jaccard against the query doc, integer
    // permille) and the semantic sign-LSH ranker (q_knn_bucketed's
    // plan, k=20), fused per (query, candidate) by
    // Σ 1000000 div (60 + rank). documents.doc_id ↔ embeddings.vec_id
    // share the id space, so the full-outer rank join is an id join.
    //
    // Scale: the O(1)-row query-docs side broadcasts into both
    // rankers (per-query work is a corpus scan — linear, the standard
    // broadcast-the-queries retrieval shape); the fusion join and both
    // top-k windows are keyed/partitioned by query. Integer div
    // everywhere → engine-exact.
    "q_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tokset = docs.select(col("doc_id"),
        array_distinct(filter(graft.operators.Dedup.tokens(col("text")),
          t => t =!= "")).as("ts"))
      val qs = tokset.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("ts").as("qts"))
      val inter = size(array_intersect(col("ts"), col("qts")))
      val lex = tokset.crossJoin(broadcast(qs))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id").as("cand_id"),
          inter.as("i"), (size(col("ts")) + size(col("qts")) - inter).as("u"))
        .filter(col("u") > 0)
        .withColumn("jac", expr("i * 1000 div u"))
      val wl = Window.partitionBy(col("query_id"))
        .orderBy(desc("jac"), asc("cand_id"))
      val lexTop = lex.withColumn("lrank", row_number().over(wl).cast("long"))
        .filter(col("lrank") <= 20)
        .select(col("query_id"), col("cand_id"), col("lrank"))
      val emb = Tables.embeddings(s, d)
      val semTop = Similarity.bucketedTopK(emb,
          emb.filter(col("vec_id") < 10), 20, planes = 3)
        .select(col("query_id"), col("cand_id"),
          col("rank").cast("long").as("srank"))
      val fused = lexTop.join(semTop, Seq("query_id", "cand_id"), "full_outer")
        .withColumn("rrf_micros",
          coalesce(expr("1000000 div (60 + lrank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + srank)"), lit(0L)))
        .withColumn("n_lists",
          (col("lrank").isNotNull.cast("long") +
            col("srank").isNotNull.cast("long")))
      val wf = Window.partitionBy(col("query_id"))
        .orderBy(desc("rrf_micros"), asc("cand_id"))
      fused.withColumn("rank", row_number().over(wf).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("cand_id"), col("rrf_micros"),
          col("n_lists"), col("rank"))
    }),

    // IR evaluation suite over the brute top-10 run, graded by label
    // agreement (label = relevance judgment): per query — MRR
    // (1e6 div first-relevant rank), recall@10 against ALL corpus
    // relevants, and harmonic-discount DCG/NDCG (gain 1e6 div (rank+1)
    // — the log2 discount is irrational, so the catalog ships the
    // rank-exact harmonic variant both engines compute identically in
    // integers). The metrics layer every retrieval/embedding change
    // should gate on before swapping an index.
    //
    // Scale: rides the retrieval run (whatever index produced it) +
    // one label join; the ideal-DCG expansion is ≤10 rows per query.
    "q_retrieval_metrics" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val lab = emb.select(col("vec_id"), col("label").cast("long").as("lab"))
      val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
      val graded = top
        .join(lab.select(col("vec_id").as("query_id"), col("lab").as("qlab")),
          Seq("query_id"))
        .join(lab.select(col("vec_id").as("cand_id"), col("lab").as("clab")),
          Seq("cand_id"))
        .withColumn("rel", (col("qlab") === col("clab")).cast("long"))
      val perQ = graded.groupBy(col("query_id")).agg(
        sum(col("rel")).as("hits10"),
        min(when(col("rel") === 1, col("rank"))).as("frank"),
        sum(when(col("rel") === 1, expr("1000000 div (rank + 1)"))
          .otherwise(lit(0L))).as("dcg_micro"))
      val classSizes = lab.groupBy(col("lab")).agg(count(lit(1)).as("ncls"))
      val nrel = lab.filter(col("vec_id") < 10).join(classSizes, Seq("lab"))
        .select(col("vec_id").as("query_id"), (col("ncls") - 1).as("n_rel"))
      // ideal ranking places all relevants first; n_rel = 0 queries drop
      // (NDCG undefined — and an unguarded sequence(1, 0) is the
      // DESCENDING [1,0] in Spark vs empty in DuckDB)
      val idcg = nrel.filter(col("n_rel") >= 1)
        .select(col("query_id"), col("n_rel"),
          explode(sequence(lit(1L), least(col("n_rel"), lit(10L)))).as("r"))
        .groupBy(col("query_id"), col("n_rel"))
        .agg(sum(expr("1000000 div (r + 1)")).as("idcg_micro"))
      perQ.join(idcg, Seq("query_id"))
        .select(col("query_id"), col("n_rel"), col("hits10"),
          coalesce(expr("1000000 div frank"), lit(0)).cast("long").as("mrr_micro"),
          expr("hits10 * 1000000 div n_rel").as("recall10_ppm"),
          col("dcg_micro"),
          expr("dcg_micro * 1000000 div idcg_micro").as("ndcg_ppm"))
    }),

    // Multi-vector late-interaction retrieval (ColBERT-style MaxSim,
    // Khattab & Zaharia SIGIR'20): the query is a SET of token vectors
    // (vec_id < 8), each "document" is a label group's vector set;
    // score = Σ_q max_v ⟨q, v⟩ in the catalog's floor(x·1000) integer
    // units so the ranking is hash-exact cross-engine. Plan: broadcast
    // the bounded query set, ONE scan of the corpus, (doc, qtok) max
    // then doc sum — never materializing per-pair state beyond the
    // partial aggregates; the final rank window is |labels|-bounded.
    "q_maxsim" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      def iv(c: Column) = transform(c.cast("array<double>"),
        x => floor(x * 1000).cast("long"))
      val docs = emb.select(col("label").cast("long").as("doc"),
        iv(col("embedding")).as("dv"))
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qtok"), iv(col("embedding")).as("qv"))
      val dotInt = aggregate(zip_with(col("qv"), col("dv"),
        (a, b) => a * b), lit(0L), (acc, x) => acc + x)
      val best = docs.crossJoin(broadcast(qs))
        .select(col("doc"), col("qtok"), dotInt.as("dp"))
        .groupBy(col("doc"), col("qtok")).agg(max(col("dp")).as("best"))
      best.groupBy(col("doc"))
        .agg(sum(col("best")).as("maxsim_units"), count(lit(1)).as("n_qtoks"))
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("maxsim_units"), asc("doc"))).cast("long"))
    }),

    // MMR diversification re-rank (λ = 1/2): one corpus scan for the
    // top-20 candidate window, then the exact-integer greedy trace for
    // k = 5 picks — see Similarity.mmrRerank for the boundedness and
    // exactness contracts. The oracle replays the greedy as five
    // nested argmax CTEs (no recursion, fully deterministic).
    "q_mmr_rerank" -> ((s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d), queryId = 5L,
        candK = 20, k = 5)),

    // k-NN density outliers (LOF-style k-distance ratio) over the
    // vec_id % 37 query sample: exact integer squared-L2 everywhere,
    // num/den emitted undivided plus a DECIMAL-divided bp score. Two
    // broadcast corpus scans, no corpus×corpus product.
    "q_knn_density" -> ((s, d) =>
      Similarity.knnDensity(Tables.embeddings(s, d), sampleMod = 37L, k = 5)),

    // Benchmark decontamination, SEMANTIC tier: the n-gram overlap
    // check (q_contamination) misses paraphrases; this one screens the
    // corpus against a held-out benchmark sample (vec_id % 97 = 0) by
    // embedding cosine ≥ 0.8. The threshold never touches floating
    // point: cos ≥ 4/5 ⟺ dp > 0 ∧ 25·dp² ≥ 16·|a|²·|b|² over
    // floor(x·1000) integer vectors (all products ≤ ~1e17, int64-safe);
    // the reported best cos² rides the DECIMAL(38,0)/HUGEINT
    // cross-multiply. Per benchmark row: hit count + best cos²-bp.
    //
    // Scale: benchmark side is the broadcast-bounded sample; one corpus
    // scan. At 100 TB the corpus side swaps to the sign-LSH screen
    // (q_embedding_neardup_ann's plan) with this exact verify unchanged.
    "q_semantic_contamination" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      def iv(c: Column) = transform(c.cast("array<double>"),
        x => floor(x * 1000).cast("long"))
      def dotI(a: String, b: String) = aggregate(
        zip_with(col(a), col(b), (x, y) => x * y), lit(0L), (acc, x) => acc + x)
      val bench = emb.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("bench_id"), iv(col("embedding")).as("bv"))
        .withColumn("bn", dotI("bv", "bv"))
      val corpus = emb.filter(col("vec_id") % 97 =!= 0)
        .select(col("vec_id").as("cand_id"), iv(col("embedding")).as("cv"))
        .withColumn("cn", dotI("cv", "cv"))
      corpus.crossJoin(broadcast(bench))
        .select(col("bench_id"), col("cand_id"),
          dotI("bv", "cv").as("dp"), col("bn"), col("cn"))
        .withColumn("hit",
          (col("dp") > 0 && col("dp") * col("dp") * 25 >= col("bn") * col("cn") * 16)
            .cast("long"))
        // dp <= 0 pairs report 0: a signed square would feed negatives
        // into div, whose truncation direction is engine-specific
        .withColumn("cos2_bp",
          when(col("dp") <= 0 || col("bn") === 0 || col("cn") === 0, lit(0L))
            .otherwise(expr(
              """CAST(CAST(dp AS DECIMAL(38,0)) * dp * 10000 div
                |  (CAST(bn AS DECIMAL(38,0)) * cn) AS BIGINT)""".stripMargin)))
        .groupBy(col("bench_id"))
        .agg(count(lit(1)).as("n_scanned"), sum(col("hit")).as("n_hits"),
          max(col("cos2_bp")).as("best_cos2_bp"))
    })
  )

  /** Oracle fragments: fold-order-exact cosine between q.v and c.v. */
  private val dim = 64
  /** The q_knn_ivf replay — 8 rank-select centroids, cosine argmax
    * assignment, nprobe=2, top-10 by (sim desc, cand_id asc), self
    * excluded. Shared by q_knn_ivf and the streaming-probe twins
    * (q_ann_probe_stream / q_ann_probe_sharded), which run the same
    * contract through the stateless streaming code paths.
    */
  private def ivfProbeReplaySql: String = ivfProbeReplaySqlWith("")

  /** The IVF probe replay with an optional extra join in the candidate
    * CTE — `candJoin` restricts candidates (pre-ranking) the way
    * [[graft.operators.Similarity.ivfProbeFiltered]]'s semi-join does;
    * "" is the unfiltered replay every plain-IVF gate shares.
    */
  private def ivfProbeReplaySqlWith(candJoin: String): String = {
    def cosBetween(x: String, y: String) =
      s"""${fold(s"$x.v[i] * $y.v[i]")} /
         |    (sqrt(${fold(s"$x.v[i] * $x.v[i]")}) * sqrt(${fold(s"$y.v[i] * $y.v[i]")}))""".stripMargin
    s"""WITH e AS ($vecsSql),
       |cent AS (SELECT vec_id AS centroid_id, v FROM e WHERE vec_id < 8),
       |ac AS (
       |  SELECT x.vec_id AS vid, y.centroid_id,
       |    ${cosBetween("x", "y")} AS csim
       |  FROM e x CROSS JOIN cent y
       |),
       |ar AS (
       |  SELECT vid, centroid_id,
       |    row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id ASC) AS rn
       |  FROM ac
       |),
       |assign AS (SELECT vid AS cand_id, centroid_id FROM ar WHERE rn = 1),
       |probes AS (SELECT vid AS query_id, centroid_id FROM ar WHERE rn <= 2 AND vid < 10),
       |p AS (
       |  SELECT pr.query_id, a.cand_id, ${cosineSql} AS sim
       |  FROM probes pr
       |  JOIN assign a ON a.centroid_id = pr.centroid_id AND a.cand_id <> pr.query_id
       |  $candJoin
       |  JOIN e q ON q.vec_id = pr.query_id
       |  JOIN e c ON c.vec_id = a.cand_id
       |),
       |r AS (
       |  SELECT query_id, cand_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
       |  FROM p
       |)
       |SELECT query_id, cand_id, sim, rank FROM r WHERE rank <= 10""".stripMargin
  }

  private def fold(exprBody: String): String =
    s"list_reduce(list_transform(generate_series(1, $dim), i -> $exprBody), (x, y) -> x + y)"
  private val cosineSql =
    s"""${fold("q.v[i] * c.v[i]")} /
       |    (sqrt(${fold("q.v[i] * q.v[i]")}) * sqrt(${fold("c.v[i] * c.v[i]")}))""".stripMargin

  /** Prefix-width cosine for the Matryoshka audit: the same fold over
    * the first 16 coordinates only.
    */
  private def foldP(p: Int, exprBody: String): String =
    s"list_reduce(list_transform(generate_series(1, $p), i -> $exprBody), (x, y) -> x + y)"
  private val cosine16Sql =
    s"""${foldP(16, "q.v[i] * c.v[i]")} /
       |    (sqrt(${foldP(16, "q.v[i] * q.v[i]")}) * sqrt(${foldP(16, "c.v[i] * c.v[i]")}))""".stripMargin

  private val vecsSql =
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"

  /** Oracle mirror of the exact-variant audit-subset cap. */
  private val cappedVecsSql =
    s"$vecsSql WHERE vec_id < $exactCap"

  private val bucketSql =
    """(CASE WHEN v[1] > 0 THEN 1 ELSE 0 END +
      | CASE WHEN v[2] > 0 THEN 2 ELSE 0 END +
      | CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)""".stripMargin

  private val bucket4Sql =
    """(CASE WHEN v[1] > 0 THEN 1 ELSE 0 END +
      | CASE WHEN v[2] > 0 THEN 2 ELSE 0 END +
      | CASE WHEN v[3] > 0 THEN 4 ELSE 0 END +
      | CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)""".stripMargin

  /** The MMR greedy trace replayed as five nested argmax CTEs: step n
    * scores every unpicked candidate by rel − max(dp to the picked
    * set) and takes the (score desc, id asc) head — no recursion, so
    * the oracle is an independent deterministic replay of the exact
    * integer greedy, not a reimplementation of the operator's loop.
    */
  private val mmrOracleSql: String = {
    def dotSql(a: String, b: String) =
      s"""list_reduce(list_transform(generate_series(1, 64),
         |      i -> $a.v[i] * $b.v[i]), (x, y) -> x + y)""".stripMargin
    val head =
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(floor(x * 1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |q AS (SELECT v FROM e WHERE vec_id = 5),
         |rel AS (SELECT e.vec_id AS id, e.v,
         |    ${dotSql("e", "q")} AS rel
         |  FROM e, q WHERE e.vec_id <> 5
         |  ORDER BY rel DESC, id ASC LIMIT 20),
         |pd AS (SELECT a.id AS ia, b.id AS ib,
         |    ${dotSql("a", "b")} AS dp
         |  FROM rel a CROSS JOIN rel b WHERE a.id <> b.id),
         |s1 AS (SELECT 1 AS rank, id, rel, 0 AS pen
         |  FROM rel ORDER BY rel DESC, id ASC LIMIT 1),
         |p1 AS (SELECT id FROM s1)""".stripMargin
    val steps = (2 to 5).map { n =>
      s""",
         |s$n AS (SELECT * FROM (
         |    SELECT $n AS rank, r.id, r.rel,
         |      (SELECT MAX(dp) FROM pd
         |       WHERE pd.ia = r.id AND pd.ib IN (SELECT id FROM p${n - 1}))
         |        AS pen
         |    FROM rel r WHERE r.id NOT IN (SELECT id FROM p${n - 1}))
         |  ORDER BY (rel - pen) DESC, id ASC LIMIT 1),
         |p$n AS (SELECT id FROM p${n - 1} UNION ALL SELECT id FROM s$n)"""
        .stripMargin
    }.mkString
    val union = (1 to 5).map(n => s"SELECT * FROM s$n").mkString(" UNION ALL ")
    s"""$head$steps
       |SELECT CAST(rank AS BIGINT) AS rank, CAST(id AS BIGINT) AS vec_id,
       |  CAST(rel AS BIGINT) AS rel_units, CAST(pen AS BIGINT) AS penalty_units,
       |  CAST(rel - pen AS BIGINT) AS score2_units
       |FROM ($union)""".stripMargin
  }

  val oracles: Map[String, String] = oraclesBase ++ Map(
    // the `_packed` names are aliases of their base queries (one
    // IVF-PQ probe), so they share oracles
    "q_knn_ivfpq_packed" -> oraclesBase("q_knn_ivfpq"),
    "q_knn_ivfpq_res_packed" -> oraclesBase("q_knn_ivfpq_res"))

  private lazy val oraclesBase: Map[String, String] = Map(
    "q_mmr_rerank" -> mmrOracleSql,

    "q_knn_density" ->
      """WITH e AS (SELECT vec_id AS id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |q AS (SELECT id AS qid, v AS qv FROM e WHERE id % 37 = 0),
        |d1 AS (SELECT q.qid, e.id AS cid,
        |    list_reduce(list_transform(generate_series(1, 64),
        |      i -> (q.qv[i] - e.v[i]) * (q.qv[i] - e.v[i])),
        |      (x, y) -> x + y) AS dist2
        |  FROM e CROSS JOIN q WHERE e.id <> q.qid),
        |r1 AS (SELECT qid, cid, dist2,
        |    row_number() OVER (PARTITION BY qid ORDER BY dist2, cid) AS rn
        |  FROM d1),
        |nn AS (SELECT qid, cid, dist2, rn FROM r1 WHERE rn <= 5),
        |dkq AS (SELECT qid, dist2 AS dk2 FROM nn WHERE rn = 5),
        |nbv AS (SELECT DISTINCT nn.cid AS nqid, e.v AS nv
        |  FROM nn JOIN e ON e.id = nn.cid),
        |d2 AS (SELECT nbv.nqid, e.id AS cid2,
        |    list_reduce(list_transform(generate_series(1, 64),
        |      i -> (nbv.nv[i] - e.v[i]) * (nbv.nv[i] - e.v[i])),
        |      (x, y) -> x + y) AS dist2
        |  FROM e CROSS JOIN nbv WHERE e.id <> nbv.nqid),
        |r2 AS (SELECT nqid, dist2,
        |    row_number() OVER (PARTITION BY nqid ORDER BY dist2, cid2) AS rn
        |  FROM d2),
        |dknb AS (SELECT nqid, dist2 AS nb_dk2 FROM r2 WHERE rn = 5)
        |SELECT nn.qid AS vec_id, dkq.dk2,
        |  CAST(dkq.dk2 * 5 AS BIGINT) AS num,
        |  CAST(SUM(dknb.nb_dk2) AS BIGINT) AS den,
        |  CAST(CAST(dkq.dk2 AS HUGEINT) * 5 * 10000 // SUM(dknb.nb_dk2)
        |    AS BIGINT) AS score_bp
        |FROM nn
        |JOIN dknb ON nn.cid = dknb.nqid
        |JOIN dkq ON nn.qid = dkq.qid
        |GROUP BY nn.qid, dkq.dk2""".stripMargin,

    // q_knn_brute's CTE + label grading; the ideal-DCG expansion is a
    // correlated generate_series over min(n_rel, 10).
    "q_retrieval_metrics" ->
      s"""WITH e AS ($vecsSql),
         |p AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, $cosineSql AS sim
         |      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |r AS (SELECT query_id, cand_id,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY sim DESC, cand_id ASC) AS rank
         |      FROM p),
         |t AS (SELECT query_id, cand_id, rank FROM r WHERE rank <= 10),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lab FROM embeddings),
         |g AS (SELECT t.query_id, t.rank,
         |        CASE WHEN ql.lab = cl.lab THEN 1 ELSE 0 END AS rel
         |      FROM t JOIN lab ql ON ql.vec_id = t.query_id
         |             JOIN lab cl ON cl.vec_id = t.cand_id),
         |pq AS (SELECT query_id, CAST(SUM(rel) AS BIGINT) AS hits10,
         |         MIN(CASE WHEN rel = 1 THEN rank END) AS frank,
         |         CAST(SUM(CASE WHEN rel = 1 THEN 1000000 // (rank + 1)
         |                       ELSE 0 END) AS BIGINT) AS dcg_micro
         |       FROM g GROUP BY query_id),
         |cs AS (SELECT lab, COUNT(*) AS ncls FROM lab GROUP BY lab),
         |nr AS (SELECT l.vec_id AS query_id, CAST(cs.ncls - 1 AS BIGINT) AS n_rel
         |       FROM lab l JOIN cs USING (lab) WHERE l.vec_id < 10),
         |ig AS (SELECT query_id, n_rel,
         |         unnest(generate_series(1, least(n_rel, 10))) AS rr
         |       FROM nr WHERE n_rel >= 1),
         |idcg AS (SELECT query_id, n_rel,
         |           CAST(SUM(1000000 // (rr + 1)) AS BIGINT) AS idcg_micro
         |         FROM ig GROUP BY query_id, n_rel)
         |SELECT pq.query_id, idcg.n_rel, pq.hits10,
         |  CAST(COALESCE(1000000 // frank, 0) AS BIGINT) AS mrr_micro,
         |  CAST(pq.hits10 * 1000000 // idcg.n_rel AS BIGINT) AS recall10_ppm,
         |  pq.dcg_micro,
         |  CAST(pq.dcg_micro * 1000000 // idcg.idcg_micro AS BIGINT) AS ndcg_ppm
         |FROM pq JOIN idcg ON pq.query_id = idcg.query_id""".stripMargin,

    "q_maxsim" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS doc,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qtok, v AS qv FROM e WHERE vec_id < 8),
        |p AS (SELECT e.doc, q.qtok,
        |        list_reduce(list_transform(generate_series(1, 64),
        |          i -> q.qv[i] * e.v[i]), (x, y) -> x + y) AS dp
        |      FROM e CROSS JOIN q),
        |b AS (SELECT doc, qtok, MAX(dp) AS best FROM p GROUP BY doc, qtok),
        |s AS (SELECT doc, CAST(SUM(best) AS BIGINT) AS maxsim_units,
        |        CAST(COUNT(*) AS BIGINT) AS n_qtoks
        |      FROM b GROUP BY doc)
        |SELECT doc, maxsim_units, n_qtoks,
        |  CAST(row_number() OVER (ORDER BY maxsim_units DESC, doc ASC) AS BIGINT)
        |    AS rank
        |FROM s""".stripMargin,

    "q_semantic_contamination" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        list_reduce(list_transform(generate_series(1, 64),
        |          i -> v[i] * v[i]), (x, y) -> x + y) AS nn
        |      FROM e),
        |bench AS (SELECT vec_id AS bench_id, v AS bv, nn AS bn FROM n
        |          WHERE vec_id % 97 = 0),
        |corpus AS (SELECT vec_id AS cand_id, v AS cv, nn AS cn FROM n
        |           WHERE vec_id % 97 <> 0),
        |p AS (SELECT bench_id, cand_id, bn, cn,
        |        list_reduce(list_transform(generate_series(1, 64),
        |          i -> bv[i] * cv[i]), (x, y) -> x + y) AS dp
        |      FROM corpus CROSS JOIN bench)
        |SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_scanned,
        |  CAST(SUM(CASE WHEN dp > 0 AND dp * dp * 25 >= bn * cn * 16
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(MAX(CASE WHEN dp <= 0 OR bn = 0 OR cn = 0 THEN 0
        |           ELSE CAST(dp AS HUGEINT) * dp * 10000 //
        |             (CAST(bn AS HUGEINT) * cn) END) AS BIGINT) AS best_cos2_bp
        |FROM p GROUP BY bench_id""".stripMargin,

    // The power-iteration CTE again, plus the relational projection
    // (lambdas cannot capture the correlated v, so the dot product is
    // an unnested sum over range(0,16)).
    "q_spectral_scores" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, list_transform(embedding[1:16],
        |           x -> CAST(floor(x * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |gm AS (
        |  SELECT i.i AS i, j.i AS j,
        |    CAST(SUM(e.q[i.i + 1] * e.q[j.i + 1]) AS BIGINT) AS g
        |  FROM e, range(0, 16) i(i), range(0, 16) j(i)
        |  GROUP BY 1, 2),
        |it(step, v) AS (
        |  SELECT 0, list_transform(range(0, 16), x -> CAST(1000 AS BIGINT))
        |  UNION ALL
        |  SELECT step + 1, w.nv
        |  FROM it, LATERAL (
        |    SELECT list(CAST(sign(s) AS BIGINT) * ((abs(s) * 1000) // mx)
        |                ORDER BY i) AS nv
        |    FROM (
        |      SELECT i, s, MAX(abs(s)) OVER () AS mx FROM (
        |        SELECT gm.i AS i, SUM(gm.g * v[CAST(gm.j + 1 AS INT)]) AS s
        |        FROM gm GROUP BY gm.i) t1) t2
        |  ) w
        |  WHERE step < 10),
        |vf AS (SELECT v FROM it WHERE step = 10)
        |SELECT vec_id,
        |  CAST(SUM(e.q[k.i + 1] * (SELECT v FROM vf)[CAST(k.i + 1 AS INT)])
        |       AS BIGINT) AS score_q
        |FROM e, range(0, 16) k(i)
        |GROUP BY vec_id
        |ORDER BY abs(score_q) DESC, vec_id ASC
        |LIMIT 20""".stripMargin,

    // Mirrors Spectral.dominantEigenvector: same quantized Gram, same
    // v0 = [1000...], same sign-factored truncating renormalization,
    // unrolled by a recursive CTE with the matvec done relationally
    // (DuckDB lambdas cannot capture the correlated v).
    "q_power_iteration" ->
      """WITH RECURSIVE e AS (
        |  SELECT list_transform(embedding[1:16],
        |           x -> CAST(floor(x * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |gm AS (
        |  SELECT i.i AS i, j.i AS j,
        |    CAST(SUM(e.q[i.i + 1] * e.q[j.i + 1]) AS BIGINT) AS g
        |  FROM e, range(0, 16) i(i), range(0, 16) j(i)
        |  GROUP BY 1, 2),
        |it(step, v) AS (
        |  SELECT 0, list_transform(range(0, 16), x -> CAST(1000 AS BIGINT))
        |  UNION ALL
        |  SELECT step + 1, w.nv
        |  FROM it, LATERAL (
        |    SELECT list(CAST(sign(s) AS BIGINT) * ((abs(s) * 1000) // mx)
        |                ORDER BY i) AS nv
        |    FROM (
        |      SELECT i, s, MAX(abs(s)) OVER () AS mx FROM (
        |        SELECT gm.i AS i, SUM(gm.g * v[CAST(gm.j + 1 AS INT)]) AS s
        |        FROM gm GROUP BY gm.i) t1) t2
        |  ) w
        |  WHERE step < 10)
        |SELECT CAST(d.i AS BIGINT) AS dim, v[CAST(d.i + 1 AS INT)] AS v_q
        |FROM it, range(0, 16) d(i) WHERE step = 10""".stripMargin,

    "q_embedding_gram" ->
      """WITH e AS (
        |  SELECT list_transform(embedding[1:16],
        |           x -> CAST(floor(x * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |ix AS (SELECT i FROM range(0, 16) t(i)),
        |jx AS (SELECT i AS j FROM range(0, 16) t(i))
        |SELECT ix.i, jx.j,
        |  CAST(SUM(e.q[ix.i + 1] * e.q[jx.j + 1]) AS BIGINT) AS gram_q
        |FROM e, ix, jx WHERE jx.j >= ix.i
        |GROUP BY 1, 2""".stripMargin,
    // Mirrors Similarity.semanticDedup stage-for-stage: floor(x·1000)
    // quantization, integer L2 argmin to the 8 lowest-id seeds
    // (ties → lowest cid), in-cell pairs, and the exact integer cosine
    // cut 25·dot² ≥ 4·‖a‖²·‖b‖² with dot > 0.
    "q_semantic_dedup" ->
      s"""WITH e AS ($vecsSql),
         |q AS (SELECT vec_id, i - 1 AS pos,
         |        CAST(floor(v[i] * 1000) AS BIGINT) AS qv
         |      FROM (SELECT vec_id, v, unnest(generate_series(1, $dim)) AS i FROM e)),
         |seeds AS (SELECT vec_id AS cid FROM embeddings ORDER BY vec_id LIMIT 8),
         |cq AS (SELECT s.cid, q.pos, q.qv AS qc FROM seeds s
         |       JOIN q ON q.vec_id = s.cid),
         |a1 AS (SELECT v.vec_id, c.cid,
         |         SUM((v.qv - c.qc) * (v.qv - c.qc)) AS dist
         |       FROM q v JOIN cq c USING (pos) GROUP BY v.vec_id, c.cid),
         |asg AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |            ORDER BY dist ASC, cid ASC) AS rn FROM a1) WHERE rn = 1),
         |nn AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2
         |       FROM q GROUP BY vec_id),
         |dots AS (SELECT xa.cid, xa.vec_id AS id_a, xb.vec_id AS id_b,
         |           CAST(SUM(va.qv * vb.qv) AS BIGINT) AS dot
         |         FROM asg xa JOIN asg xb
         |           ON xa.cid = xb.cid AND xa.vec_id < xb.vec_id
         |         JOIN q va ON va.vec_id = xa.vec_id
         |         JOIN q vb ON vb.vec_id = xb.vec_id AND vb.pos = va.pos
         |         GROUP BY xa.cid, xa.vec_id, xb.vec_id),
         |dup AS (SELECT d.cid, d.id_b
         |        FROM dots d
         |        JOIN nn a ON a.vec_id = d.id_a
         |        JOIN nn b ON b.vec_id = d.id_b
         |        WHERE d.dot > 0 AND 25 * d.dot * d.dot >= 4 * a.n2 * b.n2
         |        GROUP BY d.cid, d.id_b),
         |pr AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_pruned,
         |         MIN(id_b) AS first_pruned
         |       FROM dup GROUP BY cid)
         |SELECT g.cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  COALESCE(MAX(pr.n_pruned), 0) AS n_pruned,
         |  MAX(pr.first_pruned) AS first_pruned
         |FROM asg g LEFT JOIN pr ON pr.cid = g.cid
         |GROUP BY g.cid""".stripMargin,

    // Mirrors mrlRecall: the q_knn_brute CTE twice — once at full
    // width, once with the fold cut at 16 dims — joined per (query,
    // candidate).
    "q_mrl_recall" ->
      s"""WITH e AS ($vecsSql),
         |pf AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |ex AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, cand_id ASC) AS rank
         |    FROM pf) WHERE rank <= 10),
         |pt AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosine16Sql AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |tr AS (
         |  SELECT query_id, cand_id, 1 AS hit FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, cand_id ASC) AS rank
         |    FROM pt) WHERE rank <= 10)
         |SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(COALESCE(SUM(tr.hit), 0) AS BIGINT) AS n_hit,
         |  CAST(COALESCE(SUM(tr.hit), 0) AS BIGINT) * 1000
         |    // CAST(COUNT(*) AS BIGINT) AS recall_permille
         |FROM ex LEFT JOIN tr USING (query_id, cand_id)
         |GROUP BY ex.query_id""".stripMargin,

    // The brute and bucketed CTEs are q_knn_brute / q_knn_bucketed
    // verbatim; recall joins them per (query, candidate).
    // exact = brute cosine top-10; approx = the q_knn_ivfpq chain at
    // k=10 over the vec_id<10 sample; recall join as in q_ann_recall.
    "q_ivfpq_recall" -> {
      def cosBetween(x: String, y: String) =
        s"""${fold(s"$x.v[i] * $y.v[i]")} /
           |    (sqrt(${fold(s"$x.v[i] * $x.v[i]")}) * sqrt(${fold(s"$y.v[i] * $y.v[i]")}))""".stripMargin
      s"""WITH e AS ($vecsSql),
         |bp AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
         |), ex AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, cand_id ASC) AS rank
         |    FROM bp) WHERE rank <= 10
         |),
         |cent AS (SELECT vec_id AS centroid_id, v FROM e
         |         ORDER BY vec_id LIMIT 8),
         |ac AS (
         |  SELECT x.vec_id AS vid, y.centroid_id,
         |    ${cosBetween("x", "y")} AS csim
         |  FROM e x CROSS JOIN cent y
         |),
         |ar AS (
         |  SELECT vid, centroid_id,
         |    row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id ASC) AS rn
         |  FROM ac
         |),
         |assign AS (SELECT vid, centroid_id FROM ar WHERE rn = 1),
         |probes AS (SELECT vid AS query_id, centroid_id FROM ar
         |           WHERE rn <= 2 AND vid < 10),
         |q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS qe
         |  FROM embeddings
         |), cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe AS qc
         |  FROM q ORDER BY vec_id LIMIT 8
         |), exq AS (
         |  SELECT vec_id, cid, qe, qc,
         |    unnest(generate_series(1, 4 * (len(qe) // 4))) AS i
         |  FROM q CROSS JOIN cents
         |), d AS (
         |  SELECT vec_id, cid, (i - 1) // (len(qe) // 4) AS s,
         |    (qe[i] - qc[i]) * (qe[i] - qc[i]) AS d2,
         |    qe[i] * qc[i] AS ipc,
         |    qc[i] * qc[i] AS c2
         |  FROM exq
         |), ds AS (
         |  SELECT vec_id, cid, s, SUM(d2) AS dist
         |  FROM d GROUP BY vec_id, cid, s
         |), codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s
         |                         ORDER BY dist ASC, cid ASC) AS rn
         |    FROM ds) WHERE rn = 1
         |), lut AS (
         |  SELECT vec_id AS query_id, cid, s,
         |    CAST(SUM(ipc) AS BIGINT) AS ip, CAST(SUM(c2) AS BIGINT) AS cn2
         |  FROM d WHERE vec_id < 10 GROUP BY vec_id, cid, s
         |), qn AS (
         |  SELECT vec_id AS query_id,
         |    CAST(list_reduce(list_transform(qe, x -> x * x), (a, b) -> a + b)
         |      AS BIGINT) AS qn2
         |  FROM q WHERE vec_id < 10
         |), adc AS (
         |  SELECT l.query_id, c.vec_id,
         |    CAST(SUM(l.ip) AS BIGINT) AS ipsum,
         |    CAST(SUM(l.cn2) AS BIGINT) AS rn2
         |  FROM codes c
         |  JOIN assign a ON a.vid = c.vec_id
         |  JOIN probes pr ON pr.centroid_id = a.centroid_id
         |  JOIN lut l ON l.query_id = pr.query_id
         |             AND l.s = c.s AND l.cid = c.code
         |  WHERE c.vec_id <> l.query_id
         |  GROUP BY l.query_id, c.vec_id
         |), scored AS (
         |  SELECT a.query_id, a.vec_id,
         |    CAST(a.ipsum AS DOUBLE) /
         |      (sqrt(CAST(n.qn2 AS DOUBLE)) * sqrt(CAST(a.rn2 AS DOUBLE)))
         |      AS adc_sim
         |  FROM adc a JOIN qn n ON n.query_id = a.query_id
         |), ap AS (
         |  SELECT query_id, vec_id AS cand_id FROM (
         |    SELECT query_id, vec_id, adc_sim,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY adc_sim DESC, vec_id ASC) AS rank
         |    FROM scored) WHERE rank <= 10
         |), na AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_approx
         |  FROM ap GROUP BY query_id
         |), j AS (
         |  SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(ap.cand_id) AS BIGINT) AS n_hit
         |  FROM ex LEFT JOIN ap
         |    ON ap.query_id = ex.query_id AND ap.cand_id = ex.cand_id
         |  GROUP BY ex.query_id
         |)
         |SELECT j.query_id, j.n_exact,
         |  COALESCE(na.n_approx, CAST(0 AS BIGINT)) AS n_approx, j.n_hit,
         |  CAST(j.n_hit * 1000 // j.n_exact AS BIGINT) AS recall_permille
         |FROM j LEFT JOIN na ON na.query_id = j.query_id""".stripMargin
    },

    "q_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, v, $bucketSql AS bucket FROM ($vecsSql)),
         |bp AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
         |), ex AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, cand_id ASC) AS rank
         |    FROM bp) WHERE rank <= 10
         |), ap0 AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN e c
         |    ON q.vec_id < 10 AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |), ap AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, cand_id ASC) AS rank
         |    FROM ap0) WHERE rank <= 10
         |), na AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_approx
         |  FROM ap GROUP BY query_id
         |), j AS (
         |  SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(COUNT(ap.cand_id) AS BIGINT) AS n_hit
         |  FROM ex LEFT JOIN ap
         |    ON ap.query_id = ex.query_id AND ap.cand_id = ex.cand_id
         |  GROUP BY ex.query_id
         |)
         |SELECT j.query_id, j.n_exact,
         |  COALESCE(na.n_approx, CAST(0 AS BIGINT)) AS n_approx, j.n_hit,
         |  CAST(j.n_hit * 1000 // j.n_exact AS BIGINT) AS recall_permille
         |FROM j LEFT JOIN na ON na.query_id = j.query_id""".stripMargin,

    // Mirrors Similarity.hardNegatives stage-for-stage: the
    // q_semantic_dedup cell assignment (integer L2 argmin, ties →
    // lowest cid), the q_embedding_ann multi-probe screen (self bucket
    // + 4 single-bit flips), cross-cell filter, top-3 per anchor.
    "q_hard_negatives" ->
      s"""WITH e AS ($vecsSql),
         |b AS (SELECT vec_id, v, $bucket4Sql AS bucket FROM e),
         |q AS (SELECT vec_id, i - 1 AS pos,
         |        CAST(floor(v[i] * 1000) AS BIGINT) AS qv
         |      FROM (SELECT vec_id, v, unnest(generate_series(1, $dim)) AS i FROM e)),
         |seeds AS (SELECT vec_id AS cid FROM embeddings ORDER BY vec_id LIMIT 8),
         |cq AS (SELECT s.cid, q.pos, q.qv AS qc FROM seeds s
         |       JOIN q ON q.vec_id = s.cid),
         |a1 AS (SELECT v.vec_id, c.cid,
         |         SUM((v.qv - c.qc) * (v.qv - c.qc)) AS dist
         |       FROM q v JOIN cq c USING (pos) GROUP BY v.vec_id, c.cid),
         |asg AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |            ORDER BY dist ASC, cid ASC) AS rn FROM a1) WHERE rn = 1),
         |pr AS (SELECT vec_id, v,
         |         unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |                 xor(bucket, 4), xor(bucket, 8)]) AS bucket
         |       FROM b),
         |p AS (
         |  SELECT q.vec_id AS anchor_id, c.vec_id AS negative_id,
         |    $cosineSql AS sim
         |  FROM pr q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |  JOIN asg aq ON aq.vec_id = q.vec_id
         |  JOIN asg ac ON ac.vec_id = c.vec_id AND ac.cid <> aq.cid
         |), r AS (
         |  SELECT anchor_id, negative_id, sim,
         |    row_number() OVER (PARTITION BY anchor_id
         |                       ORDER BY sim DESC, negative_id ASC) AS rank
         |  FROM p
         |)
         |SELECT anchor_id, negative_id, sim, rank FROM r WHERE rank <= 3""".stripMargin,

    // Mirrors q_knn_labelprop: labeled/unlabeled split on vec_id % 5,
    // exact cosine top-5 among labeled, majority vote with the same
    // two-level deterministic tie-break.
    "q_knn_labelprop" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         |  FROM embeddings
         |), p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    c.label AS nlabel, $cosineSql AS sim
         |  FROM e q JOIN e c ON q.vec_id % 5 <> 0 AND c.vec_id % 5 = 0
         |), r AS (
         |  SELECT query_id, nlabel,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM p
         |), v AS (
         |  SELECT query_id, CAST(nlabel AS BIGINT) AS nlabel,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM r WHERE rank <= 5 GROUP BY query_id, nlabel
         |), pr AS (
         |  SELECT query_id, nlabel AS pred_label, cnt AS votes,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cnt DESC, nlabel ASC) AS rn
         |  FROM v
         |)
         |SELECT p.query_id, p.pred_label, p.votes,
         |  CAST(e.label AS BIGINT) AS true_label,
         |  p.pred_label = CAST(e.label AS BIGINT) AS correct
         |FROM pr p JOIN e ON e.vec_id = p.query_id
         |WHERE p.rn = 1""".stripMargin,

    "q_knn_brute" ->
      s"""WITH e AS ($vecsSql),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
         |), r AS (
         |  SELECT query_id, cand_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM p
         |)
         |SELECT query_id, cand_id, sim, rank FROM r WHERE rank <= 10""".stripMargin,

    // Mirrors q_rrf: the lexical Jaccard ranker (list_intersect on
    // already-distinct token sets ≡ Spark array_intersect), the
    // q_knn_bucketed semantic CTE at k=20, full-outer fusion with
    // integer reciprocal ranks.
    "q_rrf" ->
      s"""WITH ts AS (
         |  SELECT doc_id,
         |    list_distinct(list_filter(
         |      string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS ts
         |  FROM documents
         |), qd AS (
         |  SELECT doc_id AS query_id, ts AS qts FROM ts WHERE doc_id < 10
         |), p AS (
         |  SELECT q.query_id, c.doc_id AS cand_id,
         |    len(list_intersect(c.ts, q.qts)) AS i,
         |    len(c.ts) + len(q.qts) - len(list_intersect(c.ts, q.qts)) AS u
         |  FROM ts c CROSS JOIN qd q WHERE c.doc_id <> q.query_id
         |), lx AS (
         |  SELECT query_id, cand_id, i * 1000 // u AS jac
         |  FROM p WHERE u > 0
         |), lr AS (
         |  SELECT query_id, cand_id, lrank FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY jac DESC, cand_id ASC) AS lrank
         |    FROM lx) WHERE lrank <= 20
         |), e AS (SELECT vec_id, v, $bucketSql AS bucket FROM ($vecsSql)),
         |sp AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN e c
         |    ON q.vec_id < 10 AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |), sr AS (
         |  SELECT query_id, cand_id, srank FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, cand_id ASC) AS srank
         |    FROM sp) WHERE srank <= 20
         |), f AS (
         |  SELECT COALESCE(lr.query_id, sr.query_id) AS query_id,
         |    COALESCE(lr.cand_id, sr.cand_id) AS cand_id,
         |    COALESCE(1000000 // (60 + lr.lrank), 0)
         |      + COALESCE(1000000 // (60 + sr.srank), 0) AS rrf_micros,
         |    (CASE WHEN lr.lrank IS NULL THEN 0 ELSE 1 END
         |      + CASE WHEN sr.srank IS NULL THEN 0 ELSE 1 END) AS n_lists
         |  FROM lr FULL OUTER JOIN sr
         |    ON lr.query_id = sr.query_id AND lr.cand_id = sr.cand_id
         |)
         |SELECT query_id, cand_id, CAST(rrf_micros AS BIGINT) AS rrf_micros,
         |  CAST(n_lists AS BIGINT) AS n_lists, rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf_micros DESC, cand_id ASC) AS rank FROM f)
         |WHERE rank <= 10""".stripMargin,

    "q_knn_bucketed" ->
      s"""WITH e AS (SELECT vec_id, v, $bucketSql AS bucket FROM ($vecsSql)),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN e c
         |    ON q.vec_id < 10 AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |), r AS (
         |  SELECT query_id, cand_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM p
         |)
         |SELECT query_id, cand_id, sim, rank FROM r WHERE rank <= 10""".stripMargin,

    // q_knn_bucketed with the candidate side capped at the 40
    // lowest-id rows per bucket (row_number over bucket — the exact
    // deterministic keep rule the operator uses); queries stay uncapped.
    "q_knn_bucketed_capped" ->
      s"""WITH e AS (SELECT vec_id, v, $bucketSql AS bucket FROM ($vecsSql)),
         |capped AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT vec_id, v, bucket,
         |      row_number() OVER (PARTITION BY bucket ORDER BY vec_id ASC) AS bn
         |    FROM e) WHERE bn <= 40),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN capped c
         |    ON q.vec_id < 10 AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |), r AS (
         |  SELECT query_id, cand_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM p
         |)
         |SELECT query_id, cand_id, sim, rank FROM r WHERE rank <= 10""".stripMargin,

    // The cap keeps EXACTLY the min(|bucket|, 40) lowest-id rows, so
    // the kept count is derivable as LEAST in the oracle — the gate
    // proves the operator's keep rule, not just recounts it.
    "q_lsh_occupancy" ->
      s"""WITH e AS (SELECT vec_id, $bucketSql AS bucket FROM ($vecsSql))
         |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_members,
         |  CAST(LEAST(COUNT(*), 40) AS BIGINT) AS n_kept
         |FROM e GROUP BY bucket""".stripMargin,

    "q_knn_bucketed_mp" ->
      s"""WITH e AS (SELECT vec_id, v, $bucketSql AS bucket FROM ($vecsSql)),
         |pr AS (SELECT vec_id, v,
         |         unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |                 xor(bucket, 4)]) AS bucket
         |       FROM e WHERE vec_id < 10),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM pr q JOIN e c
         |    ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |), r AS (
         |  SELECT query_id, cand_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM p
         |)
         |SELECT query_id, cand_id, sim, rank FROM r WHERE rank <= 10""".stripMargin,

    "q_embedding_nn" ->
      s"""WITH e AS ($cappedVecsSql),
         |p AS (
         |  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |), r AS (
         |  SELECT vec_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS rn
         |  FROM p
         |)
         |SELECT vec_id, neighbor_id, sim FROM r WHERE rn = 1""".stripMargin,

    "q_embedding_ann" ->
      s"""WITH e AS ($vecsSql),
         |b AS (SELECT vec_id, v, $bucket4Sql AS bucket FROM e),
         |pr AS (SELECT vec_id, v,
         |         unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |                 xor(bucket, 4), xor(bucket, 8)]) AS bucket
         |       FROM b),
         |p AS (
         |  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
         |    $cosineSql AS sim
         |  FROM pr q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |), r AS (
         |  SELECT vec_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS rn
         |  FROM p
         |)
         |SELECT vec_id, neighbor_id, sim FROM r WHERE rn = 1""".stripMargin,

    "q_embedding_neardup" ->
      s"""WITH e AS ($cappedVecsSql)
         |SELECT q.vec_id AS id_a, c.vec_id AS id_b,
         |  $cosineSql AS sim
         |FROM e q JOIN e c ON q.vec_id < c.vec_id
         |WHERE $cosineSql >= 0.4""".stripMargin,

    // Full-corpus pairs screened to bucket Hamming distance ≤ 1 — the
    // exact mirror of annNearDuplicates' self-probe + single-bit-flips.
    "q_embedding_neardup_ann" ->
      s"""WITH e AS (SELECT vec_id, v, $bucket4Sql AS bucket FROM ($vecsSql))
         |SELECT q.vec_id AS id_a, c.vec_id AS id_b,
         |  $cosineSql AS sim
         |FROM e q JOIN e c ON q.vec_id < c.vec_id
         | AND xor(q.bucket, c.bucket) IN (0, 1, 2, 4, 8)
         |WHERE $cosineSql >= 0.4""".stripMargin,

    // Mirrors marginMining: same rank rule, same pivot, and the margin
    // expression parenthesized exactly as the Scala column tree.
    "q_bitext_margin" ->
      s"""WITH e AS ($vecsSql),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    $cosineSql AS sim
         |  FROM e q JOIN e c
         |    ON q.vec_id % 2 = 0 AND q.vec_id < 200 AND c.vec_id % 2 = 1
         |), r AS (
         |  SELECT query_id, cand_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rk
         |  FROM p
         |), piv AS (
         |  SELECT query_id,
         |    max(CASE WHEN rk = 1 THEN cand_id END) AS best_id,
         |    max(CASE WHEN rk = 1 THEN sim END) AS sim1,
         |    max(CASE WHEN rk = 2 THEN sim END) AS sim2,
         |    max(CASE WHEN rk = 3 THEN sim END) AS sim3,
         |    max(CASE WHEN rk = 4 THEN sim END) AS sim4
         |  FROM r WHERE rk <= 4 GROUP BY query_id
         |), m AS (
         |  SELECT query_id, best_id, sim1,
         |    (sim1 * 4.0) / (((sim1 + sim2) + sim3) + sim4) AS margin
         |  FROM piv
         |)
         |SELECT query_id, best_id, sim1, margin, margin >= 1.05 AS accepted
         |FROM m""".stripMargin,

    "q_embedding_clusters" ->
      s"""WITH RECURSIVE e0 AS ($cappedVecsSql),
         |pairs AS (
         |  SELECT q.vec_id AS id_a, c.vec_id AS id_b
         |  FROM e0 q JOIN e0 c ON q.vec_id < c.vec_id
         |  WHERE $cosineSql >= 0.4
         |),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION SELECT id_b, id_a FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT src, src FROM ed
         |  UNION
         |  SELECT ed.dst, r.lbl FROM reach r JOIN ed ON ed.src = r.node
         |),
         |comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
         |SELECT component, COUNT(*) AS n_members, MAX(node) AS max_id
         |FROM comp GROUP BY component""".stripMargin,

    // Same recursive closure as q_embedding_clusters, but the pair set
    // is screened to bucket Hamming distance ≤ 1 (xor of the 4-bit
    // sign buckets ∈ {0,1,2,4,8}) — the exact mirror of the Spark
    // side's self-probe + single-bit-flip multi-probe.
    "q_embedding_clusters_ann" ->
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, v, $bucket4Sql AS bucket FROM ($vecsSql)),
         |pairs AS (
         |  SELECT q.vec_id AS id_a, c.vec_id AS id_b
         |  FROM e0 q JOIN e0 c ON q.vec_id < c.vec_id
         |   AND xor(q.bucket, c.bucket) IN (0, 1, 2, 4, 8)
         |  WHERE $cosineSql >= 0.4
         |),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION SELECT id_b, id_a FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT src, src FROM ed
         |  UNION
         |  SELECT ed.dst, r.lbl FROM reach r JOIN ed ON ed.src = r.node
         |),
         |comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
         |SELECT component, COUNT(*) AS n_members, MAX(node) AS max_id
         |FROM comp GROUP BY component""".stripMargin,

    "q_knn_ivf" -> ivfProbeReplaySql,

    // The streaming probe twins run the identical IVF contract
    // (AnnStreamSpec pins stream form ≡ ivfProbe), so they share
    // q_knn_ivf's replay verbatim.
    "q_ann_probe_stream" -> ivfProbeReplaySql,
    "q_ann_probe_sharded" -> ivfProbeReplaySql,
    // Ingest-then-probe ≡ full-build probe (byte-identical re-ingest),
    // so the incremental-maintenance gate IS the plain replay.
    "q_knn_ivf_ingest" -> ivfProbeReplaySql,
    "q_knn_filtered" -> ivfProbeReplaySqlWith(
      "JOIN documents dm ON dm.doc_id = a.cand_id AND dm.lang = 'en'"),

    // q_knn_ivf's scaffolding with a TRAINED cent CTE: half-sample,
    // rank-select seeds, one exact-integer Lloyd assignment
    // (floor(x·1000) BIGINT squared-L2, argmin ties to lowest seed id),
    // centroid_j = CAST(SUM(qv) AS DOUBLE)/(COUNT·1000) — the same
    // exact-int IEEE division Spark performs, so the trained centroid
    // DOUBLES are bit-equal cross-engine and everything downstream
    // (cosine assignment, probes, ranks) replays exactly.
    "q_knn_ivf_trained" -> {
      def cosBetween(x: String, y: String) =
        s"""${fold(s"$x.v[i] * $y.v[i]")} /
           |    (sqrt(${fold(s"$x.v[i] * $x.v[i]")}) * sqrt(${fold(s"$y.v[i] * $y.v[i]")}))""".stripMargin
      s"""WITH e AS ($vecsSql),
         |samp AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |tq AS (SELECT vec_id, i - 1 AS pos,
         |         CAST(floor(v[i] * 1000) AS BIGINT) AS qv
         |       FROM (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i
         |             FROM samp)),
         |seed_ids AS (SELECT vec_id AS cid FROM samp ORDER BY vec_id LIMIT 4),
         |cq AS (SELECT s.cid, t.pos, t.qv AS qc FROM seed_ids s
         |       JOIN tq t ON t.vec_id = s.cid),
         |a1 AS (SELECT t.vec_id, cc.cid,
         |         SUM((t.qv - cc.qc) * (t.qv - cc.qc)) AS dist
         |       FROM tq t JOIN cq cc USING (pos) GROUP BY t.vec_id, cc.cid),
         |r1 AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |         ORDER BY dist ASC, cid ASC) AS rn FROM a1),
         |asg1 AS (SELECT vec_id, cid FROM r1 WHERE rn = 1),
         |cm AS (SELECT a.cid, t.pos,
         |         CAST(SUM(t.qv) AS DOUBLE) / (COUNT(*) * 1000) AS cv
         |       FROM tq t JOIN asg1 a USING (vec_id) GROUP BY a.cid, t.pos),
         |cent AS (SELECT cid AS centroid_id, list(cv ORDER BY pos) AS v
         |         FROM cm GROUP BY cid),
         |ac AS (
         |  SELECT x.vec_id AS vid, y.centroid_id,
         |    ${cosBetween("x", "y")} AS csim
         |  FROM e x CROSS JOIN cent y
         |),
         |ar AS (
         |  SELECT vid, centroid_id,
         |    row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id ASC) AS rn
         |  FROM ac
         |),
         |assign AS (SELECT vid AS cand_id, centroid_id FROM ar WHERE rn = 1),
         |probes AS (SELECT vid AS query_id, centroid_id FROM ar WHERE rn <= 2 AND vid < 10),
         |p AS (
         |  SELECT pr.query_id, a.cand_id, ${cosineSql} AS sim
         |  FROM probes pr
         |  JOIN assign a ON a.centroid_id = pr.centroid_id AND a.cand_id <> pr.query_id
         |  JOIN e q ON q.vec_id = pr.query_id
         |  JOIN e c ON c.vec_id = a.cand_id
         |),
         |r AS (
         |  SELECT query_id, cand_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM p
         |)
         |SELECT query_id, cand_id, sim, rank FROM r WHERE rank <= 10""".stripMargin
    },

    // Both quantizers' assignment CTEs (rank-select mirrors q_knn_ivf,
    // trained mirrors q_knn_ivf_trained), grouped to list occupancy.
    "q_ivf_balance" -> {
      def cosBetween(x: String, y: String) =
        s"""${fold(s"$x.v[i] * $y.v[i]")} /
           |    (sqrt(${fold(s"$x.v[i] * $x.v[i]")}) * sqrt(${fold(s"$y.v[i] * $y.v[i]")}))""".stripMargin
      s"""WITH e AS ($vecsSql),
         |centr AS (SELECT vec_id AS centroid_id, v FROM e
         |          ORDER BY vec_id LIMIT 4),
         |samp AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |tq AS (SELECT vec_id, i - 1 AS pos,
         |         CAST(floor(v[i] * 1000) AS BIGINT) AS qv
         |       FROM (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i
         |             FROM samp)),
         |seed_ids AS (SELECT vec_id AS cid FROM samp ORDER BY vec_id LIMIT 4),
         |cq AS (SELECT s.cid, t.pos, t.qv AS qc FROM seed_ids s
         |       JOIN tq t ON t.vec_id = s.cid),
         |a1 AS (SELECT t.vec_id, cc.cid,
         |         SUM((t.qv - cc.qc) * (t.qv - cc.qc)) AS dist
         |       FROM tq t JOIN cq cc USING (pos) GROUP BY t.vec_id, cc.cid),
         |r1 AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |         ORDER BY dist ASC, cid ASC) AS rn FROM a1),
         |asg1 AS (SELECT vec_id, cid FROM r1 WHERE rn = 1),
         |cm AS (SELECT a.cid, t.pos,
         |         CAST(SUM(t.qv) AS DOUBLE) / (COUNT(*) * 1000) AS cv
         |       FROM tq t JOIN asg1 a USING (vec_id) GROUP BY a.cid, t.pos),
         |centt AS (SELECT cid AS centroid_id, list(cv ORDER BY pos) AS v
         |          FROM cm GROUP BY cid),
         |acr AS (SELECT x.vec_id AS vid, y.centroid_id,
         |          ${cosBetween("x", "y")} AS csim
         |        FROM e x CROSS JOIN centr y),
         |arr AS (SELECT vid, centroid_id, row_number() OVER (PARTITION BY vid
         |          ORDER BY csim DESC, centroid_id ASC) AS rn FROM acr),
         |act AS (SELECT x.vec_id AS vid, y.centroid_id,
         |          ${cosBetween("x", "y")} AS csim
         |        FROM e x CROSS JOIN centt y),
         |art AS (SELECT vid, centroid_id, row_number() OVER (PARTITION BY vid
         |          ORDER BY csim DESC, centroid_id ASC) AS rn FROM act)
         |SELECT 'rank' AS variant, centroid_id, COUNT(*) AS n_members
         |FROM arr WHERE rn = 1 GROUP BY centroid_id
         |UNION ALL
         |SELECT 'trained' AS variant, centroid_id, COUNT(*) AS n_members
         |FROM art WHERE rn = 1 GROUP BY centroid_id""".stripMargin
    },

    // Replays Similarity.pqSearch: identical encode as q_pq_codes (one
    // row per subspace here), per-query subspace LUTs to the same 8
    // centroids, ADC = sum of the code-indexed LUT cells, top-5 by
    // (adc, neighbor_id), self excluded. Every subspace-split unnest in
    // this family is bounded to 4·(len//4) — the Spark side's
    // slice(qe, s·sub+1, sub) ignores the tail of a non-divisible dim,
    // so an unbounded unnest would feed tail elements into a phantom
    // subspace s=4 and diverge (r14 ADVICE; latent — fixture dims 16/64
    // divide evenly). Full-vector reductions (residual build, qip)
    // intentionally stay full-length, matching the engine.
    "q_pq_search" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS qe
        |  FROM embeddings
        |), cents AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe AS qc
        |  FROM q ORDER BY vec_id LIMIT 8
        |), ex AS (
        |  SELECT vec_id, cid, qe, qc,
        |    unnest(generate_series(1, 4 * (len(qe) // 4))) AS i
        |  FROM q CROSS JOIN cents
        |), d AS (
        |  SELECT vec_id, cid, (i - 1) // (len(qe) // 4) AS s,
        |    (qe[i] - qc[i]) * (qe[i] - qc[i]) AS d2
        |  FROM ex
        |), ds AS (
        |  SELECT vec_id, cid, s, SUM(d2) AS dist
        |  FROM d GROUP BY vec_id, cid, s
        |), codes AS (
        |  SELECT vec_id, s, cid AS code FROM (
        |    SELECT vec_id, s, cid,
        |      row_number() OVER (PARTITION BY vec_id, s
        |                         ORDER BY dist ASC, cid ASC) AS rn
        |    FROM ds) WHERE rn = 1
        |), lut AS (
        |  SELECT vec_id AS query_id, cid, s, CAST(SUM(d2) AS BIGINT) AS lv
        |  FROM d WHERE vec_id % 25 = 0 GROUP BY vec_id, cid, s
        |), adc AS (
        |  SELECT l.query_id, c.vec_id, CAST(SUM(l.lv) AS BIGINT) AS adc_dist
        |  FROM codes c JOIN lut l ON l.s = c.s AND l.cid = c.code
        |  WHERE c.vec_id <> l.query_id
        |  GROUP BY l.query_id, c.vec_id
        |), r AS (
        |  SELECT query_id, vec_id, adc_dist,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY adc_dist ASC, vec_id ASC) AS rank
        |  FROM adc
        |)
        |SELECT query_id, vec_id AS neighbor_id, adc_dist, rank
        |FROM r WHERE rank <= 5""".stripMargin,

    // q_knn_ivf's coarse assign/probes CTEs composed with q_pq_search's
    // codes CTE, scored by COSINE-ADC (subspace inner-product +
    // codeword-norm LUTs; sim = Σip / (√qn2·√Σcn2) — integer sums, one
    // IEEE division) restricted to candidates whose list is among the
    // query's nprobe=2 probed lists — the IVFADC replay, stage-for-stage.
    "q_knn_ivfpq" -> {
      def cosBetween(x: String, y: String) =
        s"""${fold(s"$x.v[i] * $y.v[i]")} /
           |    (sqrt(${fold(s"$x.v[i] * $x.v[i]")}) * sqrt(${fold(s"$y.v[i] * $y.v[i]")}))""".stripMargin
      s"""WITH e AS ($vecsSql),
         |cent AS (SELECT vec_id AS centroid_id, v FROM e
         |         ORDER BY vec_id LIMIT 8),
         |ac AS (
         |  SELECT x.vec_id AS vid, y.centroid_id,
         |    ${cosBetween("x", "y")} AS csim
         |  FROM e x CROSS JOIN cent y
         |),
         |ar AS (
         |  SELECT vid, centroid_id,
         |    row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id ASC) AS rn
         |  FROM ac
         |),
         |assign AS (SELECT vid, centroid_id FROM ar WHERE rn = 1),
         |probes AS (SELECT vid AS query_id, centroid_id FROM ar
         |           WHERE rn <= 2 AND vid % 25 = 0),
         |q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS qe
         |  FROM embeddings
         |), cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe AS qc
         |  FROM q ORDER BY vec_id LIMIT 8
         |), ex AS (
         |  SELECT vec_id, cid, qe, qc,
         |    unnest(generate_series(1, 4 * (len(qe) // 4))) AS i
         |  FROM q CROSS JOIN cents
         |), d AS (
         |  SELECT vec_id, cid, (i - 1) // (len(qe) // 4) AS s,
         |    (qe[i] - qc[i]) * (qe[i] - qc[i]) AS d2,
         |    qe[i] * qc[i] AS ipc,
         |    qc[i] * qc[i] AS c2
         |  FROM ex
         |), ds AS (
         |  SELECT vec_id, cid, s, SUM(d2) AS dist
         |  FROM d GROUP BY vec_id, cid, s
         |), codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s
         |                         ORDER BY dist ASC, cid ASC) AS rn
         |    FROM ds) WHERE rn = 1
         |), lut AS (
         |  SELECT vec_id AS query_id, cid, s,
         |    CAST(SUM(ipc) AS BIGINT) AS ip, CAST(SUM(c2) AS BIGINT) AS cn2
         |  FROM d WHERE vec_id % 25 = 0 GROUP BY vec_id, cid, s
         |), qn AS (
         |  SELECT vec_id AS query_id,
         |    CAST(list_reduce(list_transform(qe, x -> x * x), (a, b) -> a + b)
         |      AS BIGINT) AS qn2
         |  FROM q WHERE vec_id % 25 = 0
         |), adc AS (
         |  SELECT l.query_id, c.vec_id,
         |    CAST(SUM(l.ip) AS BIGINT) AS ipsum,
         |    CAST(SUM(l.cn2) AS BIGINT) AS rn2
         |  FROM codes c
         |  JOIN assign a ON a.vid = c.vec_id
         |  JOIN probes pr ON pr.centroid_id = a.centroid_id
         |  JOIN lut l ON l.query_id = pr.query_id
         |             AND l.s = c.s AND l.cid = c.code
         |  WHERE c.vec_id <> l.query_id
         |  GROUP BY l.query_id, c.vec_id
         |), scored AS (
         |  SELECT a.query_id, a.vec_id,
         |    CAST(a.ipsum AS DOUBLE) /
         |      (sqrt(CAST(n.qn2 AS DOUBLE)) * sqrt(CAST(a.rn2 AS DOUBLE)))
         |      AS adc_sim
         |  FROM adc a JOIN qn n ON n.query_id = a.query_id
         |), r AS (
         |  SELECT query_id, vec_id, adc_sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY adc_sim DESC, vec_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, vec_id AS neighbor_id, adc_sim, rank
         |FROM r WHERE rank <= 5""".stripMargin
    },

    // The residual-IVFADC replay: q_knn_ivfpq's coarse scaffolding, but
    // codes quantize res = qe − qcent(assigned list) against a codebook
    // of the 8 lowest-id vectors' RESIDUALS, and the cosine-ADC score
    // decomposes into the centroid/residual LUT sums the Spark probe
    // computes: ip = qip + Σipr; ‖x̂‖² = cn2c + 2·Σcross + Σrn2.
    "q_knn_ivfpq_res" -> {
      def cosBetween(x: String, y: String) =
        s"""${fold(s"$x.v[i] * $y.v[i]")} /
           |    (sqrt(${fold(s"$x.v[i] * $x.v[i]")}) * sqrt(${fold(s"$y.v[i] * $y.v[i]")}))""".stripMargin
      s"""WITH e AS ($vecsSql),
         |cent AS (SELECT vec_id AS centroid_id, v FROM e
         |         ORDER BY vec_id LIMIT 8),
         |ac AS (
         |  SELECT x.vec_id AS vid, y.centroid_id,
         |    ${cosBetween("x", "y")} AS csim
         |  FROM e x CROSS JOIN cent y
         |),
         |ar AS (
         |  SELECT vid, centroid_id,
         |    row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id ASC) AS rn
         |  FROM ac
         |),
         |assign AS (SELECT vid, centroid_id FROM ar WHERE rn = 1),
         |probes AS (SELECT vid AS query_id, centroid_id FROM ar
         |           WHERE rn <= 2 AND vid % 25 = 0),
         |q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS qe
         |  FROM embeddings
         |), qcent AS (
         |  SELECT centroid_id,
         |    list_transform(v, x -> CAST(floor(x * 1000) AS BIGINT)) AS qc
         |  FROM cent
         |), res AS (
         |  SELECT qq.vec_id, a.centroid_id,
         |    list_transform(generate_series(1, len(qq.qe)),
         |                   i -> qq.qe[i] - t.qc[i]) AS re
         |  FROM q qq
         |  JOIN assign a ON a.vid = qq.vec_id
         |  JOIN qcent t ON t.centroid_id = a.centroid_id
         |), rcb AS (
         |  SELECT re AS qc, row_number() OVER (ORDER BY vec_id) - 1 AS cid
         |  FROM (SELECT vec_id, re FROM res ORDER BY vec_id LIMIT 8)
         |), dx AS (
         |  SELECT vec_id, cid, (i - 1) // (len(re) // 4) AS s,
         |    (re[i] - qc[i]) * (re[i] - qc[i]) AS d2
         |  FROM (SELECT r0.vec_id, cb.cid, r0.re, cb.qc,
         |          unnest(generate_series(1, 4 * (len(r0.re) // 4))) AS i
         |        FROM res r0 CROSS JOIN rcb cb)
         |), ds AS (
         |  SELECT vec_id, cid, s, SUM(d2) AS dist
         |  FROM dx GROUP BY vec_id, cid, s
         |), codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s
         |                         ORDER BY dist ASC, cid ASC) AS rn
         |    FROM ds) WHERE rn = 1
         |), iprx AS (
         |  SELECT query_id, cid, (i - 1) // (len(qe) // 4) AS s,
         |    qe[i] * qc[i] AS p
         |  FROM (SELECT qq.vec_id AS query_id, cb.cid, qq.qe, cb.qc,
         |          unnest(generate_series(1, 4 * (len(qq.qe) // 4))) AS i
         |        FROM q qq CROSS JOIN rcb cb WHERE qq.vec_id % 25 = 0)
         |), ipr AS (
         |  SELECT query_id, cid, s, CAST(SUM(p) AS BIGINT) AS ip
         |  FROM iprx GROUP BY query_id, cid, s
         |), rn2x AS (
         |  SELECT cid, (i - 1) // (len(qc) // 4) AS s, qc[i] * qc[i] AS p
         |  FROM (SELECT cid, qc, unnest(generate_series(1, 4 * (len(qc) // 4))) AS i
         |        FROM rcb)
         |), rn2 AS (
         |  SELECT cid, s, CAST(SUM(p) AS BIGINT) AS n2
         |  FROM rn2x GROUP BY cid, s
         |), crossx AS (
         |  SELECT centroid_id, cid, (i - 1) // (len(tc) // 4) AS s,
         |    tc[i] * qc[i] AS p
         |  FROM (SELECT t.centroid_id, cb.cid, t.qc AS tc, cb.qc,
         |          unnest(generate_series(1, 4 * (len(t.qc) // 4))) AS i
         |        FROM qcent t CROSS JOIN rcb cb)
         |), crs AS (
         |  SELECT centroid_id, cid, s, CAST(SUM(p) AS BIGINT) AS cr
         |  FROM crossx GROUP BY centroid_id, cid, s
         |), qip AS (
         |  SELECT qq.vec_id AS query_id, t.centroid_id,
         |    CAST(list_reduce(list_transform(generate_series(1, len(qq.qe)),
         |           i -> qq.qe[i] * t.qc[i]), (a, b) -> a + b) AS BIGINT) AS qip
         |  FROM q qq CROSS JOIN qcent t WHERE qq.vec_id % 25 = 0
         |), cn2c AS (
         |  SELECT centroid_id,
         |    CAST(list_reduce(list_transform(qc, x -> x * x), (a, b) -> a + b)
         |      AS BIGINT) AS cn2c
         |  FROM qcent
         |), qn AS (
         |  SELECT vec_id AS query_id,
         |    CAST(list_reduce(list_transform(qe, x -> x * x), (a, b) -> a + b)
         |      AS BIGINT) AS qn2
         |  FROM q WHERE vec_id % 25 = 0
         |), adc AS (
         |  SELECT l.query_id, c.vec_id, a.centroid_id,
         |    CAST(SUM(l.ip) AS BIGINT) AS iprs,
         |    CAST(SUM(x.cr) AS BIGINT) AS crsum,
         |    CAST(SUM(r2.n2) AS BIGINT) AS rn2s
         |  FROM codes c
         |  JOIN assign a ON a.vid = c.vec_id
         |  JOIN probes pr ON pr.centroid_id = a.centroid_id
         |  JOIN ipr l ON l.query_id = pr.query_id
         |             AND l.s = c.s AND l.cid = c.code
         |  JOIN crs x ON x.centroid_id = a.centroid_id
         |             AND x.s = c.s AND x.cid = c.code
         |  JOIN rn2 r2 ON r2.s = c.s AND r2.cid = c.code
         |  WHERE c.vec_id <> l.query_id
         |  GROUP BY l.query_id, c.vec_id, a.centroid_id
         |), scored AS (
         |  SELECT a.query_id, a.vec_id,
         |    CAST(qi.qip + a.iprs AS DOUBLE) /
         |      (sqrt(CAST(n.qn2 AS DOUBLE)) *
         |       sqrt(CAST(c2.cn2c + 2 * a.crsum + a.rn2s AS DOUBLE))) AS adc_sim
         |  FROM adc a
         |  JOIN qip qi ON qi.query_id = a.query_id
         |              AND qi.centroid_id = a.centroid_id
         |  JOIN cn2c c2 ON c2.centroid_id = a.centroid_id
         |  JOIN qn n ON n.query_id = a.query_id
         |), r AS (
         |  SELECT query_id, vec_id, adc_sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY adc_sim DESC, vec_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, vec_id AS neighbor_id, adc_sim, rank
         |FROM r WHERE rank <= 5""".stripMargin
    },

    // q_knn_ivfpq_res with the codebook PER LIST: rcb partitions by
    // centroid_id (each list's nCent lowest-id residuals), the encode
    // joins each residual to ITS list's codebook, and every LUT keys by
    // (centroid_id, s, cid) — the query-side ip LUT built only for
    // probed (query, list) pairs, as the Spark probe does.
    "q_knn_ivfpq_local" -> {
      def cosBetween(x: String, y: String) =
        s"""${fold(s"$x.v[i] * $y.v[i]")} /
           |    (sqrt(${fold(s"$x.v[i] * $x.v[i]")}) * sqrt(${fold(s"$y.v[i] * $y.v[i]")}))""".stripMargin
      s"""WITH e AS ($vecsSql),
         |cent AS (SELECT vec_id AS centroid_id, v FROM e
         |         ORDER BY vec_id LIMIT 8),
         |ac AS (
         |  SELECT x.vec_id AS vid, y.centroid_id,
         |    ${cosBetween("x", "y")} AS csim
         |  FROM e x CROSS JOIN cent y
         |),
         |ar AS (
         |  SELECT vid, centroid_id,
         |    row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id ASC) AS rn
         |  FROM ac
         |),
         |assign AS (SELECT vid, centroid_id FROM ar WHERE rn = 1),
         |probes AS (SELECT vid AS query_id, centroid_id FROM ar
         |           WHERE rn <= 2 AND vid % 25 = 0),
         |q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS qe
         |  FROM embeddings
         |), qcent AS (
         |  SELECT centroid_id,
         |    list_transform(v, x -> CAST(floor(x * 1000) AS BIGINT)) AS qc
         |  FROM cent
         |), res AS (
         |  SELECT qq.vec_id, a.centroid_id,
         |    list_transform(generate_series(1, len(qq.qe)),
         |                   i -> qq.qe[i] - t.qc[i]) AS re
         |  FROM q qq
         |  JOIN assign a ON a.vid = qq.vec_id
         |  JOIN qcent t ON t.centroid_id = a.centroid_id
         |), rcb AS (
         |  SELECT centroid_id, re AS qc, rn - 1 AS cid
         |  FROM (SELECT centroid_id, re,
         |          row_number() OVER (PARTITION BY centroid_id
         |                             ORDER BY vec_id) AS rn
         |        FROM res) WHERE rn <= 8
         |), dx AS (
         |  SELECT vec_id, cid, (i - 1) // (len(re) // 4) AS s,
         |    (re[i] - qc[i]) * (re[i] - qc[i]) AS d2
         |  FROM (SELECT r0.vec_id, cb.cid, r0.re, cb.qc,
         |          unnest(generate_series(1, 4 * (len(r0.re) // 4))) AS i
         |        FROM res r0
         |        JOIN rcb cb ON cb.centroid_id = r0.centroid_id)
         |), ds AS (
         |  SELECT vec_id, cid, s, SUM(d2) AS dist
         |  FROM dx GROUP BY vec_id, cid, s
         |), codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s
         |                         ORDER BY dist ASC, cid ASC) AS rn
         |    FROM ds) WHERE rn = 1
         |), iprx AS (
         |  SELECT query_id, centroid_id, cid,
         |    (i - 1) // (len(qe) // 4) AS s, qe[i] * qc[i] AS p
         |  FROM (SELECT pr.query_id, pr.centroid_id, cb.cid, qq.qe, cb.qc,
         |          unnest(generate_series(1, 4 * (len(qq.qe) // 4))) AS i
         |        FROM probes pr
         |        JOIN q qq ON qq.vec_id = pr.query_id
         |        JOIN rcb cb ON cb.centroid_id = pr.centroid_id)
         |), ipr AS (
         |  SELECT query_id, centroid_id, cid, s, CAST(SUM(p) AS BIGINT) AS ip
         |  FROM iprx GROUP BY query_id, centroid_id, cid, s
         |), rn2x AS (
         |  SELECT centroid_id, cid, (i - 1) // (len(qc) // 4) AS s,
         |    qc[i] * qc[i] AS p
         |  FROM (SELECT centroid_id, cid, qc,
         |          unnest(generate_series(1, 4 * (len(qc) // 4))) AS i
         |        FROM rcb)
         |), rn2 AS (
         |  SELECT centroid_id, cid, s, CAST(SUM(p) AS BIGINT) AS n2
         |  FROM rn2x GROUP BY centroid_id, cid, s
         |), crossx AS (
         |  SELECT centroid_id, cid, (i - 1) // (len(tc) // 4) AS s,
         |    tc[i] * qc[i] AS p
         |  FROM (SELECT t.centroid_id, cb.cid, t.qc AS tc, cb.qc,
         |          unnest(generate_series(1, 4 * (len(t.qc) // 4))) AS i
         |        FROM qcent t
         |        JOIN rcb cb ON cb.centroid_id = t.centroid_id)
         |), crs AS (
         |  SELECT centroid_id, cid, s, CAST(SUM(p) AS BIGINT) AS cr
         |  FROM crossx GROUP BY centroid_id, cid, s
         |), qip AS (
         |  SELECT qq.vec_id AS query_id, t.centroid_id,
         |    CAST(list_reduce(list_transform(generate_series(1, len(qq.qe)),
         |           i -> qq.qe[i] * t.qc[i]), (a, b) -> a + b) AS BIGINT) AS qip
         |  FROM q qq CROSS JOIN qcent t WHERE qq.vec_id % 25 = 0
         |), cn2c AS (
         |  SELECT centroid_id,
         |    CAST(list_reduce(list_transform(qc, x -> x * x), (a, b) -> a + b)
         |      AS BIGINT) AS cn2c
         |  FROM qcent
         |), qn AS (
         |  SELECT vec_id AS query_id,
         |    CAST(list_reduce(list_transform(qe, x -> x * x), (a, b) -> a + b)
         |      AS BIGINT) AS qn2
         |  FROM q WHERE vec_id % 25 = 0
         |), adc AS (
         |  SELECT l.query_id, c.vec_id, a.centroid_id,
         |    CAST(SUM(l.ip) AS BIGINT) AS iprs,
         |    CAST(SUM(x.cr) AS BIGINT) AS crsum,
         |    CAST(SUM(r2.n2) AS BIGINT) AS rn2s
         |  FROM codes c
         |  JOIN assign a ON a.vid = c.vec_id
         |  JOIN probes pr ON pr.centroid_id = a.centroid_id
         |  JOIN ipr l ON l.query_id = pr.query_id
         |             AND l.centroid_id = a.centroid_id
         |             AND l.s = c.s AND l.cid = c.code
         |  JOIN crs x ON x.centroid_id = a.centroid_id
         |             AND x.s = c.s AND x.cid = c.code
         |  JOIN rn2 r2 ON r2.centroid_id = a.centroid_id
         |              AND r2.s = c.s AND r2.cid = c.code
         |  WHERE c.vec_id <> l.query_id
         |  GROUP BY l.query_id, c.vec_id, a.centroid_id
         |), scored AS (
         |  SELECT a.query_id, a.vec_id,
         |    CAST(qi.qip + a.iprs AS DOUBLE) /
         |      (sqrt(CAST(n.qn2 AS DOUBLE)) *
         |       sqrt(CAST(c2.cn2c + 2 * a.crsum + a.rn2s AS DOUBLE))) AS adc_sim
         |  FROM adc a
         |  JOIN qip qi ON qi.query_id = a.query_id
         |              AND qi.centroid_id = a.centroid_id
         |  JOIN cn2c c2 ON c2.centroid_id = a.centroid_id
         |  JOIN qn n ON n.query_id = a.query_id
         |), r AS (
         |  SELECT query_id, vec_id, adc_sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY adc_sim DESC, vec_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, vec_id AS neighbor_id, adc_sim, rank
         |FROM r WHERE rank <= 5""".stripMargin
    },

    // q_knn_ivfpq's scaffolding with a TRAINED PQ-codebook CTE chain:
    // half-sample, per-subspace rank-select seeds, one integer-L2
    // Lloyd assignment per subspace (ties → lowest cid), codeword cell
    // = truncating integer mean (Spark's BIGINT `div` truncates toward
    // zero; sums are double-exact here, so TRUNC(SUM/COUNT) replays it
    // bit-for-bit), empty cells coalesce to their seed value.
    "q_knn_ivfpq_trained" -> {
      def cosBetween(x: String, y: String) =
        s"""${fold(s"$x.v[i] * $y.v[i]")} /
           |    (sqrt(${fold(s"$x.v[i] * $x.v[i]")}) * sqrt(${fold(s"$y.v[i] * $y.v[i]")}))""".stripMargin
      s"""WITH e AS ($vecsSql),
         |cent AS (SELECT vec_id AS centroid_id, v FROM e
         |         ORDER BY vec_id LIMIT 8),
         |ac AS (
         |  SELECT x.vec_id AS vid, y.centroid_id,
         |    ${cosBetween("x", "y")} AS csim
         |  FROM e x CROSS JOIN cent y
         |),
         |ar AS (
         |  SELECT vid, centroid_id,
         |    row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id ASC) AS rn
         |  FROM ac
         |),
         |assign AS (SELECT vid, centroid_id FROM ar WHERE rn = 1),
         |probes AS (SELECT vid AS query_id, centroid_id FROM ar
         |           WHERE rn <= 2 AND vid % 25 = 0),
         |q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS qe
         |  FROM embeddings
         |), sv AS (
         |  SELECT vid, (i - 1) // (len(qe) // 4) AS s, i, qe[i] AS qv
         |  FROM (SELECT vec_id AS vid, qe,
         |          unnest(generate_series(1, 4 * (len(qe) // 4))) AS i
         |        FROM q WHERE vec_id % 2 = 0)
         |), seedids AS (
         |  SELECT vid, row_number() OVER (ORDER BY vid) - 1 AS cid
         |  FROM (SELECT vec_id AS vid FROM q WHERE vec_id % 2 = 0
         |        ORDER BY vec_id LIMIT 8)
         |), seedv AS (
         |  SELECT sd.cid, v.s, v.i, v.qv AS sqv
         |  FROM seedids sd JOIN sv v ON v.vid = sd.vid
         |), a1 AS (
         |  SELECT v.vid, v.s, sd.cid,
         |    SUM((v.qv - sd.sqv) * (v.qv - sd.sqv)) AS dist
         |  FROM sv v JOIN seedv sd ON sd.s = v.s AND sd.i = v.i
         |  GROUP BY v.vid, v.s, sd.cid
         |), asg AS (
         |  SELECT vid, s, cid FROM (
         |    SELECT vid, s, cid,
         |      row_number() OVER (PARTITION BY vid, s
         |                         ORDER BY dist ASC, cid ASC) AS rn
         |    FROM a1) WHERE rn = 1
         |), cm AS (
         |  SELECT v.s, a.cid, v.i,
         |    CAST(TRUNC(CAST(SUM(v.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |  FROM sv v JOIN asg a ON a.vid = v.vid AND a.s = v.s
         |  GROUP BY v.s, a.cid, v.i
         |), cellv AS (
         |  SELECT sp.cid, sp.i, COALESCE(cm.cv, sp.sqv) AS cv
         |  FROM seedv sp
         |  LEFT JOIN cm ON cm.s = sp.s AND cm.cid = sp.cid AND cm.i = sp.i
         |), cents AS (
         |  SELECT cid, list(cv ORDER BY i) AS qc FROM cellv GROUP BY cid
         |), ex AS (
         |  SELECT vec_id, cid, qe, qc,
         |    unnest(generate_series(1, 4 * (len(qe) // 4))) AS i
         |  FROM q CROSS JOIN cents
         |), d AS (
         |  SELECT vec_id, cid, (i - 1) // (len(qe) // 4) AS s,
         |    (qe[i] - qc[i]) * (qe[i] - qc[i]) AS d2,
         |    qe[i] * qc[i] AS ipc,
         |    qc[i] * qc[i] AS c2
         |  FROM ex
         |), ds AS (
         |  SELECT vec_id, cid, s, SUM(d2) AS dist
         |  FROM d GROUP BY vec_id, cid, s
         |), codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s
         |                         ORDER BY dist ASC, cid ASC) AS rn
         |    FROM ds) WHERE rn = 1
         |), lut AS (
         |  SELECT vec_id AS query_id, cid, s,
         |    CAST(SUM(ipc) AS BIGINT) AS ip, CAST(SUM(c2) AS BIGINT) AS cn2
         |  FROM d WHERE vec_id % 25 = 0 GROUP BY vec_id, cid, s
         |), qn AS (
         |  SELECT vec_id AS query_id,
         |    CAST(list_reduce(list_transform(qe, x -> x * x), (a, b) -> a + b)
         |      AS BIGINT) AS qn2
         |  FROM q WHERE vec_id % 25 = 0
         |), adc AS (
         |  SELECT l.query_id, c.vec_id,
         |    CAST(SUM(l.ip) AS BIGINT) AS ipsum,
         |    CAST(SUM(l.cn2) AS BIGINT) AS rn2
         |  FROM codes c
         |  JOIN assign a ON a.vid = c.vec_id
         |  JOIN probes pr ON pr.centroid_id = a.centroid_id
         |  JOIN lut l ON l.query_id = pr.query_id
         |             AND l.s = c.s AND l.cid = c.code
         |  WHERE c.vec_id <> l.query_id
         |  GROUP BY l.query_id, c.vec_id
         |), scored AS (
         |  SELECT a.query_id, a.vec_id,
         |    CAST(a.ipsum AS DOUBLE) /
         |      (sqrt(CAST(n.qn2 AS DOUBLE)) * sqrt(CAST(a.rn2 AS DOUBLE)))
         |      AS adc_sim
         |  FROM adc a JOIN qn n ON n.query_id = a.query_id
         |), r AS (
         |  SELECT query_id, vec_id, adc_sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY adc_sim DESC, vec_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, vec_id AS neighbor_id, adc_sim, rank
         |FROM r WHERE rank <= 5""".stripMargin
    },

    // Mirrors sparseNeighbors: same shingles, same integer rational
    // idf (tf·N·100 // df), same fixed-association cosine; top-3 via
    // row_number (sim DESC, neighbor ASC).
    "q_sparse_knn" ->
      raw"""WITH t AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
         |  FROM t CROSS JOIN UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
         |  WHERE len(toks) >= 3),
         |tf AS (SELECT doc_id, shingle, COUNT(*) AS tf FROM g GROUP BY doc_id, shingle),
         |dfq AS (SELECT shingle, COUNT(*) AS df FROM tf GROUP BY shingle
         |        HAVING COUNT(*) <= 50),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |w AS (SELECT doc_id, shingle, tf * n_docs * 100 // df AS w
         |      FROM tf JOIN dfq USING (shingle) CROSS JOIN nd),
         |nm AS (SELECT doc_id, SUM(w * w) AS norm2 FROM w GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
         |      FROM w a JOIN w b USING (shingle)
         |      WHERE a.doc_id <> b.doc_id GROUP BY 1, 2),
         |s AS (SELECT doc_a, doc_b, dot,
         |        CAST(dot AS DOUBLE) /
         |          (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS sim
         |      FROM p JOIN nm na ON na.doc_id = doc_a
         |             JOIN nm nb ON nb.doc_id = doc_b),
         |r AS (SELECT doc_a AS doc_id, doc_b AS neighbor_id, dot, sim,
         |        row_number() OVER (PARTITION BY doc_a
         |          ORDER BY sim DESC, doc_b ASC) AS rank
         |      FROM s)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
         |  CAST(dot AS BIGINT) AS dot, sim
         |FROM r WHERE rank <= 3""".stripMargin,

    // Mirrors scalarQuantize step for step; the only operations on
    // doubles are single IEEE ops in the same association order, and
    // every output is floor'd to an exact integer before compare.
    "q_sq8" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, x, list_max(list_transform(x, v -> abs(v))) AS scale
        |  FROM e),
        |q AS (
        |  SELECT vec_id, x, scale,
        |    CASE WHEN scale = 0
        |      THEN list_transform(x, v -> CAST(0 AS BIGINT))
        |      ELSE list_transform(x, v -> CAST(floor(v / scale * 127 + 0.5) AS BIGINT))
        |    END AS qs
        |  FROM s),
        |r AS (
        |  SELECT vec_id, scale, qs,
        |    list_transform(generate_series(1, len(qs)), i ->
        |      CAST(floor(abs(x[i] - (qs[i] * scale) / 127) * 1e6) AS BIGINT)) AS errs
        |  FROM q)
        |SELECT vec_id,
        |  CAST(floor(scale * 1e6) AS BIGINT) AS scale_us,
        |  CAST(list_sum(list_transform(generate_series(1, len(qs)),
        |    i -> qs[i] * i)) AS BIGINT) AS checksum,
        |  CAST(len(list_filter(qs, v -> abs(v) = 127)) AS BIGINT) AS n_sat,
        |  CAST(list_max(errs) AS BIGINT) AS max_err_us,
        |  CAST(list_sum(errs) AS BIGINT) AS sum_err_us
        |FROM r""".stripMargin,

    "q_pq_codes" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS qe
        |  FROM embeddings
        |), cents AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qe AS qc
        |  FROM q ORDER BY vec_id LIMIT 8
        |), ex AS (
        |  SELECT vec_id, cid, qe, qc,
        |    unnest(generate_series(1, 4 * (len(qe) // 4))) AS i
        |  FROM q CROSS JOIN cents
        |), d AS (
        |  SELECT vec_id, cid, (i - 1) // (len(qe) // 4) AS s,
        |    (qe[i] - qc[i]) * (qe[i] - qc[i]) AS d2
        |  FROM ex
        |), ds AS (
        |  SELECT vec_id, cid, s, SUM(d2) AS dist
        |  FROM d GROUP BY vec_id, cid, s
        |), best AS (
        |  SELECT vec_id, s, cid,
        |    row_number() OVER (PARTITION BY vec_id, s
        |                       ORDER BY dist ASC, cid ASC) AS rn
        |  FROM ds
        |)
        |SELECT vec_id,
        |  MAX(CASE WHEN s = 0 THEN cid END) AS code_0,
        |  MAX(CASE WHEN s = 1 THEN cid END) AS code_1,
        |  MAX(CASE WHEN s = 2 THEN cid END) AS code_2,
        |  MAX(CASE WHEN s = 3 THEN cid END) AS code_3
        |FROM best WHERE rn = 1 GROUP BY vec_id""".stripMargin
  )
}
