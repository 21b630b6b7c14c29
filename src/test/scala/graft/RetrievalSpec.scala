package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // 4-doc corpus with known term statistics:
  //   terms = (cat, dog); N = 4, tot = 3+2+4+3 = 12, avgdl = 3.0
  //   df(cat) = 2, df(dog) = 1
  private val docs = Seq(
    (1L, "cat cat mouse"),   // tf(cat)=2, dl=3
    (2L, "cat dog"),         // tf(cat)=1, tf(dog)=1, dl=2
    (3L, "mouse mouse bird bird"), // no query terms, dl=4
    (4L, "fish fish fish"),  // no query terms, dl=3
  ).toDF("doc_id", "text")
  private val terms = Seq("cat", "dog")

  // the exact arithmetic the operator promises: rational idf ×
  // (tf·(k1+1)) / (tf + k1·(1−b + b·dl/avgdl)), left-assoc IEEE
  private def bm25(tf: Long, dl: Long, dfq: Long, n: Long, avgdl: Double,
      k1: Double = 1.2, b: Double = 0.75): Double = {
    val idf = (2L * (n - dfq) + 1L).toDouble / (2L * dfq + 1L).toDouble
    idf * (tf.toDouble * (k1 + 1.0) / (tf.toDouble + k1 * ((1.0 - b) + b * dl.toDouble / avgdl)))
  }

  test("bm25Scores reproduces the closed-form score, term sum in fixed order") {
    val out = Retrieval.bm25Scores(docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 2L)) // docs without query terms drop out
    val avgdl = 12.0 / 4.0
    assert(out(1L).getAs[Double]("score") == bm25(2, 3, 2, 4, avgdl) + 0.0)
    assert(out(2L).getAs[Double]("score") ==
      bm25(1, 2, 2, 4, avgdl) + bm25(1, 2, 1, 4, avgdl))
    assert(out(1L).getAs[Long]("dl") == 3L)
  }

  test("bm25TopK ranks the rare-term doc first and is partitioning-invariant") {
    val r1 = Retrieval.bm25TopK(docs, "doc_id", "text", terms, 5)
    val r2 = Retrieval.bm25TopK(docs.repartition(7), "doc_id", "text", terms, 5)
    val rows = r1.collect()
    // doc 2 holds the only "dog" (idf 7/3) → outranks doc 1's double "cat"
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 1L))
    assert(rows.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2))
    assert(r2.collect().toSeq == rows.toSeq)
  }

  test("bm25TopK plans a TakeOrderedAndProject head, not a global sort") {
    val plan = Retrieval.bm25TopK(docs, "doc_id", "text", terms, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("rrfFuse sums reciprocal ranks in list order with absent lists as 0") {
    val l0 = Seq((10L, 1), (11L, 2)).toDF("doc_id", "rank")
    val l1 = Seq((11L, 1), (12L, 2)).toDF("doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(l0, l1), "doc_id", "rank", rrfK = 60, k = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(11L).getAs[Double]("rrf") == 1.0 / 62.0 + 1.0 / 61.0)
    assert(out(10L).getAs[Double]("rrf") == 1.0 / 61.0 + 0.0)
    assert(out(12L).getAs[Double]("rrf") == 0.0 + 1.0 / 62.0)
    // doc in both lists wins; absent rank columns surface as null
    assert(out(11L).getAs[Int]("rank") == 1)
    assert(out(10L).isNullAt(out(10L).fieldIndex("rank_1")))
  }

  test("denseTopN ranks by exact cosine against the stored query vector") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),  // the query
      (1L, Array(0.9f, 0.1f)),  // nearest
      (2L, Array(0.0f, 1.0f)),  // orthogonal
      (3L, Array(0.5f, 0.5f)),
    ).toDF("vec_id", "embedding")
    val rows = Retrieval.denseTopN(emb, "vec_id", "embedding", 0L, 2).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(rows.head.getAs[Double]("cosine") > rows.last.getAs[Double]("cosine"))
  }

  test("hybrid gate wiring returns a non-empty fused head on the corpus") {
    val out = SparkEntry.queries("q_hybrid_search")(
      spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 15)
    // ranks are 1..n dense
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
  }
}
