package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TopKStruct
import graft.operators.Ranking

/** The bounded-heap top-k aggregate, and `Ranking.topKPerGroup` on top
  * of it, must agree with the window-sort form on every group shape
  * (fewer rows than k, exact k, ties broken by the secondary field,
  * NULL order values under asc and desc) and must survive the
  * serialize/deserialize spill path (forced by sort-based aggregation
  * fallback).
  */
class TopKStructSpec extends SparkSpec {
  import spark.implicits._

  private val vDescIdAsc = Seq(desc("v"), asc("id"))

  private def windowTopK(df: DataFrame, k: Int, order: Seq[Column] = vDescIdAsc) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(order: _*)
    df.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
      .select("g", "id", "v", "rk")
  }

  private def perGroupTopK(df: DataFrame, k: Int, order: Seq[Column] = vDescIdAsc) =
    Ranking.topKPerGroup(df, Seq(col("g")), order, k)
      .select(col("g"), col("id"), col("v"), col("rank").cast("long").as("rk"))

  private def heapTopK(df: DataFrame, k: Int) =
    df.groupBy(col("g"))
      .agg(TopKStruct.topK(struct(col("v"), col("id")), k, true, false).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.id").as("id"), col("col.v").as("v"),
        (col("pos") + 1).cast("long").as("rk"))

  test("heap top-k == window top-k on mixed group shapes") {
    val df = Seq(
      // group a: 5 rows, ties on v=30 broken by id asc
      ("a", 1L, 30L), ("a", 2L, 30L), ("a", 3L, 10L), ("a", 4L, 50L), ("a", 5L, 30L),
      // group b: fewer rows than k
      ("b", 6L, 7L), ("b", 7L, 9L),
      // group c: exactly k rows
      ("c", 8L, 1L), ("c", 9L, 2L), ("c", 10L, 3L))
      .toDF("g", "id", "v")
    val expected = windowTopK(df, 3).collect().toSet
    val actual = heapTopK(df, 3).collect().toSet
    assert(actual === expected)
    assert(actual.nonEmpty)
    assert(perGroupTopK(df, 3).collect().toSet === expected)
    // NULL order values: topKPerGroup places them where each SortOrder
    // does (asc NULLS FIRST, desc NULLS LAST, or as written), k = 1 too
    val withNulls = df.union(Seq(
      ("a", 11L, Option.empty[Long]), ("b", 12L, None),
      ("d", 13L, None), ("d", 14L, None), ("d", 15L, Some(4L)))
      .toDF("g", "id", "v"))
    for {
      order <- Seq(vDescIdAsc, Seq(asc("v"), asc("id")),
        Seq(desc_nulls_first("v"), asc("id")), Seq(asc_nulls_last("v"), desc("id")))
      k <- Seq(1, 3)
    } {
      val want = windowTopK(withNulls, k, order).collect().toSet
      assert(perGroupTopK(withNulls, k, order).collect().toSet === want, s"$order k=$k")
      assert(want.exists(_.isNullAt(2)) || k == 1, s"$order k=$k")
    }
    assert(Ranking.topKPerGroup(df, Seq(col("g")), vDescIdAsc, 1)
      .schema("rank").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("heap top-k matches window form on the documents fixture") {
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select(col("lang").as("g"), col("doc_id").as("id"), col("n_chars").as("v"))
    val expected = windowTopK(docs, 3).collect().toSet
    val actual = heapTopK(docs, 3).collect().toSet
    assert(actual === expected)
    assert(actual.nonEmpty)
  }

  test("survives sort-based fallback (serialize/deserialize round-trip)") {
    val df = (1 to 2000).map(i => (s"g${i % 97}", i.toLong, (i * 31 % 1009).toLong))
      .toDF("g", "id", "v")
    val expected = windowTopK(df, 4).collect().toSet
    // fallbackThreshold=1 forces ObjectHashAggregate to spill every
    // buffer through serialize() and finish sort-based — the same path
    // a 100 TB key cardinality would take.
    val prev = spark.conf.getOption(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    try {
      val actual = heapTopK(df, 4).collect().toSet
      assert(actual === expected)
      assert(perGroupTopK(df, 4).collect().toSet === expected)
    } finally {
      prev.fold(spark.conf.unset(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"))(v =>
        spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", v))
    }
  }

  test("streaming state: complete-mode aggregation equals batch over all micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = (1 to 300).map(i => (s"g${i % 7}", i.toLong, (i * 37 % 251).toLong))
    val src = MemoryStream[(String, Long, Long)](spark)
    val agg = src.toDS().toDF("g", "id", "v")
      .groupBy(col("g"))
      .agg(TopKStruct.topK(struct(col("v"), col("id")), 3, true, false).as("top"))
    val q = agg.writeStream.format("memory").queryName("topk_state")
      .outputMode("complete").start()
    rows.grouped(100).foreach { c =>
      src.addData(c.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("topk_state")
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.id").as("id"), col("col.v").as("v"),
        (col("pos") + 1).cast("long").as("rk"))
      .collect().toSet
    val batch = windowTopK(rows.toDF("g", "id", "v"), 3).collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("k larger than any group returns whole groups, ordered") {
    val df = Seq(("a", 1L, 5L), ("a", 2L, 9L), ("b", 3L, 1L)).toDF("g", "id", "v")
    val rows = heapTopK(df, 10).orderBy("g", "rk").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 2L), ("a", 1L), ("b", 3L)))
  }
}
