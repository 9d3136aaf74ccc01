package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(0.9f, 0.1f, 0.0f))    // close to 0
  ).toDF("vec_id", "embedding")

  test("cosine: identical → 1, orthogonal → 0") {
    val d = vecs.select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val sims = d.as("a").crossJoin(d.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosine("a.v", "b.v").as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(sims((0L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(sims((0L, 2L))) < 1e-12)
    assert(sims((0L, 3L)) > 0.9)
  }

  test("bruteForceTopK: deterministic rank order, self excluded") {
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 3)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("cand_id")).toSeq == Seq(1L, 3L, 2L))
    assert(!top.exists(_.getAs[Long]("cand_id") == 0L))
  }

  test("bucketedTopK: results are a subset of brute-force candidates with equal sims") {
    val q = vecs.filter(col("vec_id") === 0)
    val brute = Similarity.bruteForceTopK(vecs, q, 4)
      .select("cand_id", "sim").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bucketed = Similarity.bucketedTopK(vecs, q, 4, planes = 3)
      .select("cand_id", "sim").collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(bucketed.nonEmpty)
    bucketed.foreach { case (id, sim) => assert(brute(id) == sim) }
  }

  test("nearestNeighbor: every vector gets exactly one neighbor") {
    val nn = Similarity.nearestNeighbor(vecs).collect()
    assert(nn.length == 4)
    val m = nn.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) == 1L && m(1L) == 0L) // identical pair picks each other
  }

  test("nearestNeighbor grid blocking matches direct all-pairs on a larger corpus") {
    // 40 vectors across several grid cells (grid=3 ≠ 40 to exercise
    // uneven blocks); compare against an independently computed argmax
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 31 + j * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val nn = Similarity.nearestNeighbor(corpus, grid = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = corpus.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for ((qid, qv) <- rows) {
      val best = rows.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .maxBy { case (cid, s) => (s, -cid) }._1
      assert(nn(qid) == best, s"query $qid")
    }
  }

  test("approxNearestNeighbor: sims are true cosines and ids valid on fixture data") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val ann = Similarity.approxNearestNeighbor(emb, planes = 4).collect()
    assert(ann.nonEmpty && ann.length <= emb.count())
    assert(ann.forall(r => r.getLong(0) != r.getLong(1)))
    assert(ann.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("nearestNeighbor is grid-invariant on fixture embeddings") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    def run(g: Int) = Similarity.nearestNeighbor(emb, grid = g)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(4) == run(7)) // blocking is an execution detail, not semantics
  }

  test("bucketedTopK multiProbe: sims exact, candidate set a superset of single-probe") {
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 17 + j * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 6)
    val brute = Similarity.bruteForceTopK(corpus, q, 60)
      .select("query_id", "cand_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def hits(multiProbe: Boolean) =
      Similarity.bucketedTopK(corpus, q, 60, planes = 4, multiProbe = multiProbe)
        .select("query_id", "cand_id", "sim")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val single = hits(multiProbe = false)
    val multi = hits(multiProbe = true)
    // every sim (both modes) is the exact brute-force cosine — the
    // probe expansion must not touch the similarity arithmetic
    (single ++ multi).foreach { case (pair, sim) => assert(brute(pair) == sim) }
    // no (query, cand) pair arrives twice despite planes+1 probes
    assert(multi.map(_._1).distinct.length == multi.length)
    // Hamming-1 probing can only ADD candidates (k=60 disables the cap)
    val singleSet = single.map(_._1).toSet
    val multiSet = multi.map(_._1).toSet
    assert(singleSet.subsetOf(multiSet))
    // and on this corpus it genuinely does add some — non-vacuity
    assert(multiSet.size > singleSet.size)
  }

  /** The window form bruteForceTopK's heap must reproduce: the same
    * cosine rows ranked by row_number over (sim DESC, cand_id ASC).
    */
  private def windowBruteForce(corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, k: Int) = {
    val c = corpus.select(col("vec_id").as("cand_id"),
        Similarity.toDoubleVec(col("embedding")).as("cv"))
      .withColumn("cnorm", Similarity.norm("cv"))
    val q = queries.select(col("vec_id").as("query_id"),
        Similarity.toDoubleVec(col("embedding")).as("qv"))
      .withColumn("qnorm", Similarity.norm("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), asc("cand_id"))
    c.crossJoin(q).filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        (Similarity.dot("qv", "cv") / (col("qnorm") * col("cnorm"))).as("sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  test("bruteForceTopK matches the window form row-for-row (fixture embeddings)") {
    // same cosine fold, same (sim DESC, cand_id ASC) tie-break — the
    // heap rank must be bit-identical to row_number on real fixture
    // vectors, rank included
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val win = rows(windowBruteForce(emb, q, 7))
    val heapDf = Similarity.bruteForceTopK(emb, q, 7)
    assert(rows(heapDf) == win)
    assert(win.size == q.count() * 7)
    // mechanism pin: the rank plans as ObjectHashAggregate (map-side
    // ≤k rows per query before the exchange) with no window sort
    val plan = heapDf.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(400))
    assert(!plan.contains("Window"), plan.take(400))
  }

  test("bruteForceTopK: a NULL-sim candidate ranks last, as in the window form") {
    // a null embedding yields a NULL cosine; desc("sim") puts NULLs
    // last, and the heap places them exactly where the window does
    val dirty = vecs.union(Seq((9L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding"))
    val q = vecs.filter(col("vec_id") === 0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(_.getAs[Long]("cand_id")).toSeq
    assert(ids(Similarity.bruteForceTopK(dirty, q, 4)) == Seq(1L, 3L, 2L, 9L))
    assert(ids(windowBruteForce(dirty, q, 4)) == Seq(1L, 3L, 2L, 9L))
    // with k below the non-null count the NULL never surfaces
    assert(ids(Similarity.bruteForceTopK(dirty, q, 3)) == Seq(1L, 3L, 2L))
  }

  test("nearest_centroid matches the join+max-struct assignment on fixture embeddings") {
    import graft.functions.VectorFunctions.{nearest_centroid, vec_dot}
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val c = emb.select(col("vec_id").as("cand_id"),
        Similarity.toDoubleVec(col("embedding")).as("cv"))
      .withColumn("cnorm", Similarity.norm("cv"))
    val cents = emb.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("centroid_id"),
        Similarity.toDoubleVec(col("embedding")).as("centv"))
      .withColumn("centnorm", Similarity.norm("centv"))
    // the composition ivfTopK used before r12: explode × aggregate × join
    val viaJoin = c.crossJoin(broadcast(cents))
      .select(col("cand_id"), col("centroid_id"),
        (vec_dot(col("cv"), col("centv"))
          / (col("cnorm") * col("centnorm"))).as("csim"))
      .groupBy(col("cand_id"))
      .agg(max(struct(col("csim"), (-col("centroid_id")).as("inv"))).as("best"))
      .select(col("cand_id"), (-col("best.inv")).as("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centsArr = cents.agg(sort_array(collect_list(
      struct(col("centroid_id"), col("centv"), col("centnorm")))).as("cents"))
    val viaExpr = c.crossJoin(broadcast(centsArr))
      .select(col("cand_id"),
        nearest_centroid(col("cv"), col("cnorm"), col("cents")).as("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr.size == 500)
    assert(viaExpr == viaJoin)
  }

  test("nearest_centroid: exact ties to lowest id; mismatched lengths skipped; empty is NULL") {
    import graft.functions.VectorFunctions.nearest_centroid
    import spark.implicits._
    def centsCol(cs: Seq[(Long, Seq[Double])]) =
      sort_array(array(cs.map { case (id, v) =>
        struct(lit(id).as("centroid_id"),
          array(v.map(lit): _*).cast("array<double>").as("centv"),
          sqrt(lit(v.map(x => x * x).sum)).as("centnorm"))
      }: _*))
    val q = Seq((0L, Seq(1.0, 1.0))).toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
      .withColumn("n", sqrt(lit(2.0)))
    // centroids 5=(1,0) and 9=(0,1) are EXACT cosine ties for (1,1):
    // dot 1, norm 1 each — the lower id must win, as max(struct) would
    val tie = q.select(nearest_centroid(col("v"), col("n"),
      centsCol(Seq(9L -> Seq(0.0, 1.0), 5L -> Seq(1.0, 0.0)))).as("c"))
      .head().getLong(0)
    assert(tie == 5L)
    // a better-matching centroid with the WRONG dimensionality never wins
    val skip = q.select(nearest_centroid(col("v"), col("n"),
      centsCol(Seq(1L -> Seq(1.0, 1.0, 0.0), 7L -> Seq(1.0, 0.0)))).as("c"))
      .head().getLong(0)
    assert(skip == 7L)
    // all-mismatched (or empty) array yields NULL, not a fabricated id
    val allSkipped = q.select(nearest_centroid(col("v"), col("n"),
      centsCol(Seq(1L -> Seq(1.0, 1.0, 0.0)))).as("c")).head()
    assert(allSkipped.isNullAt(0))
    // a null vector INSIDE a collected centroid struct is skipped (the
    // composition's null score never wins a max), never an NPE
    val withNull = q.select(nearest_centroid(col("v"), col("n"),
      array(
        struct(lit(2L).as("centroid_id"),
          lit(null).cast("array<double>").as("centv"), lit(1.0).as("centnorm")),
        struct(lit(7L).as("centroid_id"),
          array(lit(1.0), lit(0.0)).cast("array<double>").as("centv"),
          lit(1.0).as("centnorm")))).as("c"))
      .head().getLong(0)
    assert(withNull == 7L)
    // ...and so is a null struct ELEMENT in the array
    val withNullElem = q.select(nearest_centroid(col("v"), col("n"),
      array(
        lit(null).cast(
          "struct<centroid_id:bigint,centv:array<double>,centnorm:double>"),
        struct(lit(7L).as("centroid_id"),
          array(lit(1.0), lit(0.0)).cast("array<double>").as("centv"),
          lit(1.0).as("centnorm")))).as("c"))
      .head().getLong(0)
    assert(withNullElem == 7L)
  }

  test("centroid expressions: interpreted eval agrees with codegen (all three)") {
    // wholeStage=false alone still codegens projections; factoryMode
    // NO_CODEGEN is what actually routes through nullSafeEval — without
    // this the interpreted paths of NearestCentroid/NearestCellLong/
    // PqEncode are dead code in the suite
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    def all(): (Map[Long, Long], Map[Long, Long], Map[Long, Seq[Long]]) = {
      val ivf = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 6), 3,
          nlist = 8, nprobe = 2)
        .collect().map(r => (r.getLong(0) * 10000 + r.getLong(1)) -> r.getLong(1)).toMap
      val cells = Similarity.cellAssignments(emb, 8, "vec_id", "embedding", 1000)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pq = Similarity.pqCodes(emb, m = 4, nCent = 8)
        .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
      (ivf, cells, pq)
    }
    val viaCodegen = all()
    val viaInterp = {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try all()
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
    assert(viaCodegen == viaInterp)
    assert(viaCodegen._2.size == 500 && viaCodegen._3.size == 500)
  }

  test("cellAssignments: exact integer ties to the lowest cell id (expression path)") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), // seed cell 0
      (1L, Array(0.0f, 1.0f)), // seed cell 1
      (5L, Array(1.0f, 1.0f))) // exactly equidistant from both seeds
      .toDF("vec_id", "embedding")
    val m = Similarity.cellAssignments(df, 2, "vec_id", "embedding", 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) == 0L && m(1L) == 1L)
    // quantized dists are EXACT equal longs — min(struct) tie rule: cid 0
    assert(m(5L) == 0L)
  }

  test("ivfTopK: sims are exact cosines and results subset brute force") {
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.cos(i * 13 + j * 5).toFloat))
    }.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(corpus, q, 40)
      .select("query_id", "cand_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(corpus, q, 10, nlist = 4, nprobe = 2)
      .select("query_id", "cand_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(ivf.nonEmpty)
    // every IVF result is a true pair with the exact brute-force cosine
    ivf.foreach { case (pair, sim) => assert(brute(pair) == sim) }
  }

  test("bucketedTopK cap: keeps exactly the lowest-id rows per bucket, drops the rest") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") < 10)
    val cap = 40
    // driver-side replay of the keep rule from the raw fixture
    val bucketOf = emb.select(col("vec_id"),
        Similarity.signBucket("embedding", 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kept = bucketOf.groupBy(_._2).flatMap { case (_, m) =>
      m.keys.toSeq.sorted.take(cap) }.toSet
    val capped = Similarity.bucketedTopK(emb, q, 10, planes = 3,
        maxBucketCandidates = Some(cap))
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.nonEmpty)
    capped.foreach { case (_, c) =>
      assert(kept.contains(c), s"cand $c was capped out of its bucket") }
    // non-vacuous on this fixture: at least one bucket overflows the cap
    assert(bucketOf.groupBy(_._2).exists(_._2.size > cap),
      "fixture never overflows the cap — test is vacuous")
    // and capped results are a subset of the uncapped candidate pairs
    val uncapped = Similarity.bucketedTopK(emb, q, 10, planes = 3)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // NOT a subset in general (dropping strong candidates promotes
    // weaker ones into top-k) — but every SHARED pair must carry the
    // same exact cosine, which bruteForce parity already pins; here we
    // just require both forms returned full k for every query
    assert(capped.groupBy(_._1).forall(_._2.length == 10))
    assert(uncapped.groupBy(_._1).size == capped.groupBy(_._1).size)
  }

  test("ivfKmeansCentroids: trained centroids equal the driver-side Lloyd replay exactly") {
    // the oracle-determinism claim in one assertion: sample → seeds →
    // integer-L2 argmin (ties to lowest seed id) → mean as
    // exact-int/exact-int IEEE division, replayed in plain Scala on
    // the collected fixture — centv doubles must be BIT-equal
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val samp = rows.filter(_._1 % 2 == 0)
    val qv = samp.map { case (id, v) =>
      id -> v.map(x => math.floor(x * 1000).toLong) }.toMap
    val seeds = samp.map(_._1).sorted.take(4)
    val assign = qv.map { case (id, q) =>
      id -> seeds.map(c =>
        (q.zip(qv(c)).map { case (a, b) => (a - b) * (a - b) }.sum, c)).min._2
    }
    val want = seeds.flatMap { c =>
      val members = qv.collect { case (id, v) if assign(id) == c => v }.toSeq
      if (members.isEmpty) None
      else Some(c -> Array.tabulate(members.head.length)(j =>
        members.map(_(j)).sum.toDouble / (members.size * 1000L)))
    }.toMap
    val got = Similarity.ivfKmeansCentroids(emb, nlist = 4, sampleMod = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (cid, v) =>
      assert(v.sameElements(want(cid)), s"centroid $cid diverged") }
    // and ≥2 clusters actually formed (non-vacuous training)
    assert(got.size >= 2)
  }

  test("split IVF (centroids/assign/probe) matches composed ivfTopK row-for-row") {
    // the r13 split exposes build (ivfCentroids + ivfAssign — the
    // one-off N·nlist index cost) and probe as separate public steps so
    // the ScaleSweep can price amortization; the composition must stay
    // bit-identical to ivfTopK, ranks included — including with the
    // index MATERIALIZED (persisted) between the phases, the production
    // shape
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val composed = rows(Similarity.ivfTopK(emb, q, 5, nlist = 8, nprobe = 2))
    val cents = Similarity.ivfCentroids(emb, 8).persist()
    val listed = Similarity.ivfAssign(emb, cents).persist()
    try {
      listed.count() // build materialized before any probe runs
      assert(rows(Similarity.ivfProbe(listed, cents, q, 5, nprobe = 2)) == composed)
      assert(composed.nonEmpty)
    } finally { listed.unpersist(); cents.unpersist(); () }
  }

  test("cosineNearDuplicates: identical pair found once, orthogonal pair absent") {
    val pairs = Similarity.cosineNearDuplicates(vecs, threshold = 0.9, grid = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet.contains((0L, 1L)))         // identical vectors
    assert(math.abs(pairs((0L, 1L)) - 1.0) < 1e-12)
    assert(pairs.keySet.forall { case (a, b) => a < b })  // each pair once
    assert(!pairs.keySet.contains((0L, 2L)))        // orthogonal
  }

  test("vec_dot returns NULL for mismatched vector lengths (HOF contract)") {
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0, 5.0)), (Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("a", "b")
      .select(graft.functions.VectorFunctions.vec_dot(col("a"), col("b")).as("d"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(None, Some(11.0)))
  }

  test("vec_dot_long matches the HOF fold and NULLs on length mismatch") {
    val df = Seq((Array(1L, -2L, 3L), Array(4L, 5L, 6L)), (Array(1L, 2L), Array(3L, 4L, 5L)))
      .toDF("a", "b")
    val got = df
      .select(graft.functions.VectorFunctions.vec_dot_long(col("a"), col("b")).as("d"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x).as("hof"))
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(got.toSeq == Seq((Some(12L), Some(12L)), (None, None)))
  }

  test("pqCodes assigns each subspace to its nearest centroid") {
    // 4-dim vectors, m=2 subspaces of 2 dims, centroids = vecs 0 and 1.
    // vec 2 = centroid 1's first half + centroid 0's second half →
    // codes (1, 0); centroids encode as themselves.
    val df = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(1.0f, 0.9f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pqCodes(df, m = 2, nCent = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 0L, 0L), (1L, 1L, 1L), (2L, 1L, 0L)))
  }

  test("pqCodes breaks distance ties toward the lower centroid id") {
    val df = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)))  // equidistant from both centroids
      .toDF("vec_id", "embedding")
    val out = Similarity.pqCodes(df, m = 1, nCent = 2)
      .filter(col("vec_id") === 2L).collect()
    assert(out.head.getLong(1) == 0L)
  }

  test("semanticDedup: cell-mates above tau pruned, survivors kept, cells exact") {
    // seeds (k=2) are vecs 0 and 1. vec 2 lands in cell 0 at cos≈0.994
    // to vec 0 → pruned; vec 3 is an exact clone of vec 1 → pruned;
    // vec 4 sits in cell 1 but nearly orthogonal to everything → kept.
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.1f, 0.9f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, k = 2).orderBy("cluster_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toSeq == Seq((0L, 2L, 1L, 2L), (1L, 3L, 1L, 3L)))
  }

  test("annRecall: full recall when buckets align, partial when the screen splits them") {
    // planes=1 buckets on v[1]>0: vecs 0,1,2 share bucket 1; vec 3 is
    // alone in bucket 0. Query 0's exact top-3 = {1,2,3} but the screen
    // only surfaces {1,2} → n_approx=2, n_hit=2, recall 666 permille.
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.8f, 0.2f)),
      (3L, Array(-0.5f, 0.9f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.annRecall(df, df.filter(col("vec_id") === 0L),
        k = 3, planes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((0L, 3L, 2L, 2L, 666L)))
  }

  test("pqSearch: ADC = sum of code-indexed LUT cells, ties by id, self excluded") {
    // m=2 subspaces of 2 dims; codebook = vecs 0 and 1 (quantized ×1000).
    // Hand-computed codes: v0→(0,0) v1→(1,1) v2→(0,1) v3→(0,0).
    // Query v2 LUT: s0 → (c0:0, c1:2e6); s1 → (c0:1e6, c1:0).
    // ADC: v0 = 0+1e6, v3 = 0+1e6 (tie → v0 first), v1 = 2e6+0.
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (3L, Array(0.9f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pqSearch(df, col("vec_id") === 2L, k = 3, m = 2, nCent = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (2L, 0L, 1000000L, 1L),
      (2L, 3L, 1000000L, 2L),
      (2L, 1L, 2000000L, 3L)))
  }

  test("semanticDedup: a cell with no near-dups reports zero pruned and null first id") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.6f, -0.8f))  // cell 0; cos to vec 0 = 0.6 > 2/5... pick further
    ).toDF("vec_id", "embedding")
    // cos(v0, v2) = 0.6 which exceeds tau=2/5 — use a stricter tau so
    // nothing collides and the zero path is exercised.
    val out = Similarity.semanticDedup(df, k = 2, tauNum = 9, tauDen = 10)
      .orderBy("cluster_id").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 0L))
    assert(out.forall(_.isNullAt(3)))
  }

  test("hardNegatives: bucket-close cross-cell vectors, ranked by sim") {
    // seeds 0/1 split the space by the sign of v[1]; vectors 2/3 sit
    // just either side of that boundary, so their sign buckets differ
    // by ONE bit (the multi-probe reach) while their cells differ.
    val df = Seq(
      (0L, Array(1.0f, 1.0f)),   // seed cell 0, bucket 3
      (1L, Array(1.0f, -1.0f)),  // seed cell 1, bucket 1
      (2L, Array(0.9f, 0.15f)),  // cell 0, bucket 3
      (3L, Array(0.9f, -0.15f))  // cell 1, bucket 1
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(df, k = 3, planes = 2, cells = 2)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq).toMap
    // anchor 2's candidates are {0 (same cell, dropped), 3, 1}; the
    // near-boundary twin 3 outranks the far seed 1 on cosine
    assert(out(2L) == Seq(3L, 1L))
    assert(out(3L) == Seq(2L, 0L))
  }

  test("hardNegatives never pairs an anchor with its own cell (fixture corpus)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val asg = Similarity.cellAssignments(emb, 8, "vec_id", "embedding", 1000)
    val neg = Similarity.hardNegatives(emb, k = 3, planes = 4, cells = 8)
    val sameCell = neg
      .join(asg.select(col("vid").as("anchor_id"), col("cid").as("ca")), "anchor_id")
      .join(asg.select(col("vid").as("negative_id"), col("cid").as("cn")), "negative_id")
      .filter(col("ca") === col("cn")).count()
    assert(sameCell == 0)
    // ranks are 1..k and sims descend within each anchor
    val bad = neg.groupBy("anchor_id")
      .agg(max("rank").as("mx"), count(lit(1)).as("n"),
        min(col("rank")).as("mn"))
      .filter(col("mx") > 3 || col("mx") =!= col("n") || col("mn") =!= 1)
      .count()
    assert(bad == 0)
  }

  test("marginMining separates a genuine translation pair from a hub") {
    import spark.implicits._
    // query 0: one clear match (100) among decoys → big margin.
    // query 2: a hub neighborhood where four targets are all equally
    // close → margin ≈ 1, rejected at any sensible threshold.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),       // query A
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),       // query B (the hub)
      (100L, Array(0.9f, 0.1f, 0.0f, 0.0f)),     // A's translation
      (101L, Array(0.1f, 0.9f, 0.1f, 0.0f)),     // hub-ish
      (102L, Array(0.0f, 0.9f, 0.1f, 0.1f)),     // hub-ish
      (103L, Array(0.1f, 0.8f, 0.2f, 0.0f)),     // hub-ish
      (104L, Array(0.0f, 0.8f, 0.1f, 0.2f)))     // hub-ish
      .toDF("vec_id", "embedding")
    val out = Similarity.marginMining(
        vecs.filter(col("vec_id") >= 100), vecs.filter(col("vec_id") < 100),
        minMargin = 1.05)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(4))).toMap
    assert(out(0L)._1 === 100L)
    assert(out(0L)._2, "clear translation must pass the margin")
    assert(!out(2L)._2, "hub neighborhood must fail the margin")
  }

  test("marginMining with < 4 corpus candidates yields NULL margin, not an error") {
    import spark.implicits._
    // 2-candidate corpus: sim3/sim4 don't exist — the pivoted
    // row_number oracle leaves them NULL, so margin and accepted must
    // be NULL here too (and the array reads must not throw under ANSI)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (100L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (101L, Array(0.5f, 0.5f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.marginMining(
        vecs.filter(col("vec_id") >= 100), vecs.filter(col("vec_id") < 100),
        minMargin = 1.05)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getLong(1) === 100L, "best candidate still reported")
    assert(!r.isNullAt(2), "sim1 exists")
    assert(r.isNullAt(3), "margin NULL below 4 candidates")
    assert(r.isNullAt(4), "accepted NULL below 4 candidates")
  }

  test("mrlRecall: aligned prefix gives perfect recall; adversarial tail breaks it") {
    // vectors whose FIRST 2 dims carry all similarity → prefixDim=2
    // reproduces full ranking exactly (recall 1000); vectors whose
    // prefix is identical but tails differ → prefix ranking is
    // tie-broken arbitrarily vs full ranking, recall measured honestly.
    val aligned = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),   // query
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.5f, 0.5f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.mrlRecall(aligned,
        aligned.filter(col("vec_id") === 0), k = 2, prefixDim = 2)
      .head()
    assert(r.getAs[Long]("n_exact") == 2L)
    assert(r.getAs[Long]("n_hit") == 2L)
    assert(r.getAs[Long]("recall_permille") == 1000L)

    // similarity lives ONLY in dims 3-4; a 2-dim prefix sees all
    // candidates as identical to the query (cos=1 everywhere) and
    // keeps the lowest ids — missing the true top-2 {3, 2} half the time
    val tail = Seq(
      (0L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, -1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.5f, 0.5f)),
      (3L, Seq(1.0f, 0.0f, 1.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val r2 = Similarity.mrlRecall(tail,
        tail.filter(col("vec_id") === 0), k = 2, prefixDim = 2)
      .head()
    assert(r2.getAs[Long]("n_exact") == 2L)
    assert(r2.getAs[Long]("n_hit") == 1L, "prefix tie-break keeps {1,2}; truth is {3,2}")
    assert(r2.getAs[Long]("recall_permille") == 500L)
  }

  test("scalarQuantize: hand-computed codes, checksum, saturation, errors") {
    // x = [1.0, -0.5, 0.25, 0.0], scale = 1:
    //   q = [127, floor(-63.5+0.5) = -63, floor(31.75+0.5) = 32, 0]
    //   checksum = 127·1 - 63·2 + 32·3 + 0·4 = 97; n_sat = 1
    //   errors: 0; |−0.5+63/127|·1e6 → 3937; |0.25−32/127|·1e6 → 1968; 0
    val d = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector: guarded path
      .toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantize(d, "embedding", "vec_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("scale_us") == 1000000L)
    assert(r1.getAs[Long]("checksum") == 97L)
    assert(r1.getAs[Long]("n_sat") == 1L)
    assert(r1.getAs[Long]("max_err_us") == 3937L)
    assert(r1.getAs[Long]("sum_err_us") == 3937L + 1968L)
    val r2 = out(2L)
    assert(r2.getAs[Long]("scale_us") == 0L)
    assert(r2.getAs[Long]("checksum") == 0L)
    assert(r2.getAs[Long]("max_err_us") == 0L)
  }

  test("q_knn_labelprop: covers every unlabeled vector; flags label-geometry independence") {
    val out = graft.queries.SimilarityQueries.queries("q_knn_labelprop")(
      spark, sf0001).collect()
    val unlabeled = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.expr("vec_id % 5 <> 0")).count()
    assert(out.length == unlabeled)
    out.foreach { r =>
      assert(r.getAs[Long]("votes") >= 1L && r.getAs[Long]("votes") <= 5L)
    }
    // THE AUDIT'S FINDING on this corpus: gold labels are statistically
    // independent of embedding geometry, so 5-NN accuracy sits at the
    // 10-class chance floor (~10%) — exactly what the accuracy column
    // exists to expose before anyone trusts pseudo-labels from it.
    // Pinned as a band so a testdata regen that aligns labels with
    // geometry fails this test and forces the doc to be updated.
    val acc = out.count(_.getAs[Boolean]("correct")).toDouble / out.length
    assert(acc < 0.3, s"labels unexpectedly aligned with geometry: $acc")
  }

  test("kNN label prop mechanism: clustered fixture propagates perfectly") {
    import spark.implicits._
    // two tight clusters on opposite axes; known = even ids
    val rows = (0 until 40).map { i =>
      val cluster = i % 2 // id parity picks the axis
      val base = if (cluster == 0) Array(10f, 0f) else Array(0f, 10f)
      val jit = (i / 2).toFloat / 100f
      (i.toLong, Array(base(0) + jit, base(1) - jit), cluster)
    }.toDF("vec_id", "embedding", "label")
    // known = vec_id % 4 in {0, 1} (covers both clusters)
    val known = rows.filter(col("vec_id") % 4 < 2)
    val unk = rows.filter(col("vec_id") % 4 >= 2)
    val nn = Similarity.bruteForceTopK(known, unk, 3)
    val votes = nn.join(known.select(col("vec_id").as("cand_id"),
        col("label").cast("long").as("nlabel")), Seq("cand_id"))
      .groupBy(col("query_id"), col("nlabel")).agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy(col("query_id"))
      .agg(max(struct(col("cnt"), (-col("nlabel")).as("negl"))).as("m"))
      .select(col("query_id"), (-col("m.negl")).as("pred_label"))
    val acc = pred.join(unk.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("true_label")), Seq("query_id"))
      .filter(col("pred_label") === col("true_label")).count()
    assert(acc == unk.count(), "clustered labels must propagate exactly")
  }
}
