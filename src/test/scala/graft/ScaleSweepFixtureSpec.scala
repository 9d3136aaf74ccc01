package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Pins the ScaleSweep's synthetic-embedding fixtures to their claims.
  * The sweep's recall columns are only meaningful if the fixtures do
  * what their names say: `embCorpus` ~uniform per-coordinate residues,
  * `embClustered` a tight ball around each planted center — the r12
  * verdict's "adversarial floor vs realistic ceiling" pair. A fixture
  * drift (say a jitter amplitude typo making clusters overlap) would
  * silently turn the ceiling column into noise; these tests replay the
  * generator arithmetic driver-side and assert the geometry.
  */
class ScaleSweepFixtureSpec extends SparkSpec {

  private val primes = Seq(1009L, 1013L, 1019L, 1021L, 1031L, 1033L,
    1039L, 1049L, 1051L, 1061L, 1063L, 1069L, 1087L, 1091L, 1093L, 1097L)
  private val mods = Seq(997L, 991L, 983L, 977L, 971L, 967L, 953L,
    947L, 941L, 937L, 929L, 919L, 911L, 907L, 887L, 883L)

  private def centerCoord(cid: Long, j: Int): Double =
    math.floorMod(cid * primes(j), mods(j)).toDouble * 2.0 / mods(j) - 1.0

  test("embClustered: every member sits within the ±0.1 jitter ball of its planted center") {
    val dim = 16
    val centers = 8L
    val rows = ScaleSweep.embClustered(spark, 200, centers, dim)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(rows.length == 200)
    rows.foreach { case (id, emb) =>
      val cid = math.floorMod(id, centers)
      (0 until dim).foreach { j =>
        val d = math.abs(emb(j) - centerCoord(cid, j))
        assert(d <= 0.1 + 1e-12, s"id=$id dim=$j off-center by $d")
      }
    }
    // all 8 planted centers are populated and pairwise separated by
    // far more than twice the jitter radius (clusters cannot overlap)
    val cids = rows.map { case (id, _) => math.floorMod(id, centers) }.toSet
    assert(cids.size == 8)
    for (a <- 0L until centers; b <- (a + 1) until centers) {
      val gap = math.sqrt((0 until dim)
        .map(j => math.pow(centerCoord(a, j) - centerCoord(b, j), 2)).sum)
      assert(gap > 0.4, s"centers $a,$b only $gap apart")
    }
  }

  test("embClusteredWide: ±0.1 jitter ball around hash-planted centers at dim 128") {
    // the high-dim twin (pqdim sweep): same geometry contract as
    // embClustered, coordinates from xxhash64 mixing instead of the
    // dim-16-capped prime tables. Center replay uses Spark's own
    // xxhash64 so the driver-side check can't drift from the generator.
    val dim = 128
    val centers = 8L
    val df = ScaleSweep.embClusteredWide(spark, 200, centers, dim)
    val rows = df.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(rows.length == 200 && rows.forall(_._2.length == dim))
    val centerRows = spark.range(centers)
      .select(col("id"), array((0 until dim).map(j =>
        pmod(xxhash64(col("id"), lit(j)), lit(2001L)).cast("double") / 1000.0
          - 1.0): _*).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { case (id, emb) =>
      val c = centerRows(math.floorMod(id, centers))
      (0 until dim).foreach { j =>
        val d = math.abs(emb(j) - c(j))
        assert(d <= 0.1 + 1e-12, s"id=$id dim=$j off-center by $d")
      }
    }
    // centers populated and separated: at dim 128 hash-random centers
    // concentrate around gap ~ sqrt(dim * E[(u-v)^2]) >> jitter
    val cids = rows.map { case (id, _) => math.floorMod(id, centers) }.toSet
    assert(cids.size == 8)
    for (a <- 0L until centers; b <- (a + 1) until centers) {
      val gap = math.sqrt((0 until dim)
        .map(j => math.pow(centerRows(a)(j) - centerRows(b)(j), 2)).sum)
      assert(gap > 1.0, s"centers $a,$b only $gap apart")
    }
  }

  test("embColumnWide is bit-identical to the original SQL-expr generator") {
    // the r15 refactor exposed the wide vector as a standalone column
    // (so a query stream can recompute corpus vectors from wire ids);
    // this pins that the DSL tree hashes the SAME typed inputs as the
    // SQL string it replaced — a silent int-vs-long drift in any
    // xxhash64 argument would shift every coordinate, invalidating
    // cross-round sweep comparability
    val dim = 96
    val centers = 13L
    val legacy = spark.range(300).select(col("id").as("vec_id"))
      .select(col("vec_id"), pmod(col("vec_id"), lit(centers)).as("cid"))
      .select(col("vec_id"),
        expr(s"""transform(sequence(0, ${dim - 1}), j ->
                |  (CAST(pmod(xxhash64(cid, j), 2001) AS DOUBLE) / 1000.0 - 1.0) +
                |  (CAST(pmod(xxhash64(vec_id, j, 77), 201) AS DOUBLE) / 1000.0 - 0.1))"""
          .stripMargin).as("embedding"))
    val mismatches = legacy.alias("o")
      .join(ScaleSweep.embClusteredWide(spark, 300, centers, dim).alias("n"),
        Seq("vec_id"))
      .filter(col("o.embedding") =!= col("n.embedding"))
      .count()
    assert(mismatches == 0)
  }

  test("embClustered queries at an id offset land in planted clusters too") {
    // the sweep's query model: held-out members — same mod-arithmetic
    // center id, own jitter — so exact top-k neighbors of a query are
    // overwhelmingly its center's corpus members
    val centers = 8L
    val corpus = ScaleSweep.embClustered(spark, 400, centers)
    val queries = ScaleSweep.embClustered(spark, 4, centers,
      idOffset = 1000000007L)
    val top = Similarity.bruteForceTopK(corpus, queries, 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")))
    assert(top.length == 40)
    top.foreach { case (q, c) =>
      assert(math.floorMod(q, centers) == math.floorMod(c, centers),
        s"query $q (cluster ${math.floorMod(q, centers)}) matched " +
          s"cand $c (cluster ${math.floorMod(c, centers)})")
    }
  }

  test("signBucket past the vector's dim fails at runtime — why the sweep clamps planes") {
    // under ANSI (the Spark 4 default, and this library's session),
    // element_at(vec, i+1) beyond the array end THROWS — so an
    // unclamped planes = ceil(log2(n/4096)) above dim (~268M rows at
    // dim 16) would kill the sweep mid-point; under legacy non-ANSI it
    // would be worse, NULL buckets silently emptying the LSH join.
    // Either way the clamp at the sweep's sizing site is load-bearing.
    val emb = ScaleSweep.embCorpus(spark, 10, dim = 4)
    val ok = emb.select(Similarity.signBucket("embedding", 4).as("b")).collect()
    assert(ok.forall(!_.isNullAt(0)))
    val e = intercept[Exception] {
      emb.select(Similarity.signBucket("embedding", 5).as("b")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      String.valueOf(c.getMessage).contains("INVALID_ARRAY_INDEX")), e.toString)
  }
}
