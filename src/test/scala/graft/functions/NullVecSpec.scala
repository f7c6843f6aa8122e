package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Totality under null embeddings — crawl-shaped vector data always has
  * nulls (failed encoder, absent modality). Contract: a null vector has
  * no neighbors, is nobody's neighbor, and never kills the job; dedup
  * keeps null-vector rows (they cannot be duplicates of anything).
  */
class NullVecSpec extends SparkSpec {
  private lazy val df = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      Row(2L, null, 0),
      Row(3L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0)), 1), schema)
  }

  test("knnJoin: null vectors dropped from both sides, no null scores") {
    val out = Similarity.knnJoin(df, df, "id", "v", "id", "v", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    assert(!out.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("knnJoinBlocked / mutualKnnEdges / ivfTopK survive null vectors") {
    val b = Similarity.knnJoinBlocked(df, df, "id", "v", "id", "v", 2,
        nCentroids = 2, nProbe = 2, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(b.toSet == Set((1L, 3L, 0.993883734), (3L, 1L, 0.993883734)))
    val m = Similarity.mutualKnnEdges(df, "id", "v", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(m.toSeq == Seq((1L, 3L)))
    val t = Similarity.ivfTopK(df, "id", "v", Array(1.0f, 0f, 0f, 0f), 2,
        nCentroids = 2, nProbe = 2)
      .collect().map(_.getLong(0))
    assert(t.toSet == Set(1L, 3L))
  }

  test("semanticDedup keeps the null-vector row as a non-duplicate") {
    val kept = Similarity.semanticDedup(df, "id", "v", "label", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(2L))
  }

  // every vector null: no centroids to sample, so the quantizer files
  // nothing and each search answers empty; PQ has no dimension to read
  test("an all-null-vector corpus: empty ANN answers, loud PQ failure") {
    val allNull = df.withColumn("v", lit(null).cast(ArrayType(FloatType)))
    assert(Similarity.knnJoinBlocked(allNull, allNull, "id", "v", "id", "v", 2,
      nCentroids = 2, nProbe = 2).isEmpty)
    assert(Similarity.knnJoinBlocked(df, allNull, "id", "v", "id", "v", 2,
      nCentroids = 2, nProbe = 2).isEmpty)
    assert(Similarity.mutualKnnEdges(allNull, "id", "v", 2).isEmpty)
    assert(Similarity.ivfTopK(allNull, "id", "v", Array(1.0f, 0f, 0f, 0f), 2,
      nCentroids = 2, nProbe = 2).isEmpty)
    val kept = Similarity.semanticDedupClustered(allNull, "id", "v", 0.5,
      nCentroids = 2).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
    val e = intercept[IllegalArgumentException](
      Similarity.productQuantize(allNull, "id", "v", m = 2, k = 2))
    assert(e.getMessage.contains("column v"), e.getMessage)
  }
}
