package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Retrieval

/** Retrieval gates (SURVEY.md §2 L6/K8): BM25 keyword top-k and the
  * BM25 + dense-cosine reciprocal-rank-fusion hybrid — the first-stage
  * retriever pair of a RAG / attribution pipeline, over the same
  * `documents`/`embeddings` corpus the curation and ANN gates use.
  *
  * Both oracles replay the full pipeline (rational-idf BM25, pivoted
  * fixed-order term sum, RRF in list order) with identical IEEE
  * arithmetic — see the determinism note on
  * [[graft.operators.Retrieval]]; double literals cross into SQL as
  * `CAST('<round-trip-repr>' AS DOUBLE)` so DuckDB's decimal-literal
  * typing can't double-round them.
  */
object RetrievalQueries {

  // fixed query term set: mixed document frequencies ("dup" is the
  // corpus's one rare token, so its idf dominates where it appears)
  private val terms = Seq("vector", "stream", "dup", "merge")
  private val k1 = 1.2
  private val b = 0.75
  private val bmK = 20 // gated BM25 head
  private val fuseN = 50 // per-list head feeding the fusion
  private val fuseK = 15 // fused head
  private val rrfK = 60 // the standard RRF damping constant
  private val denseQueryId = 5L

  /** `CAST('<repr>' AS DOUBLE)`: string→double is correctly rounded,
    * so the SQL side gets bit-identically the Scala double. */
  private def d(v: Double): String = s"CAST('$v' AS DOUBLE)"
  private def inList: String = terms.map(t => s"'$t'").mkString(", ")

  /** The full BM25 pipeline as CTEs, through the ranked head of `k`.
    * Emits columns (doc_id, dl, score, rank). */
  private def bm25Sql(k: Int): String = {
    val pivot = terms.map(t =>
      s"COALESCE(MAX(CASE WHEN term = '$t' THEN s END), 0.0)")
      .mkString("\n          + ")
    s"""
      WITH base AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               list_filter(string_split(text, ' '), t -> t IN ($inList)) AS hits
        FROM documents),
      stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM base),
      tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
             FROM (SELECT doc_id, dl, unnest(hits) AS term
                   FROM base WHERE len(hits) > 0)
             GROUP BY 1, 2, 3),
      dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      sc AS (SELECT doc_id, dl, term,
               (CAST(2 * (n - df) + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))
                 * (CAST(tf AS DOUBLE) * ${d(k1 + 1.0)}
                    / (CAST(tf AS DOUBLE)
                       + ${d(k1)} * (${d(1.0 - b)}
                           + ${d(b)} * CAST(dl AS DOUBLE)
                             / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))) AS s
             FROM tf JOIN dfq USING (term) CROSS JOIN stats),
      pv AS (SELECT doc_id, dl, $pivot AS score FROM sc GROUP BY 1, 2),
      hd AS (SELECT doc_id, dl, score FROM pv ORDER BY score DESC, doc_id LIMIT $k)
      SELECT doc_id, dl, score,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM hd"""
  }

  private def cosSql(a: String, bb: String): String =
    s"""list_sum(list_transform(list_zip($a, $bb), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       / SQRT(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
            * list_sum(list_transform($bb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"""

  val queries: Seq[Query] = Seq(
    Query("q_bm25_topk", s"${bm25Sql(bmK)} ORDER BY rank", { (s, dir) =>
      Retrieval.bm25TopK(
        Tables.documents(s, dir), "doc_id", "text", terms, bmK, k1, b)
    }),
    // hybrid = RRF(sparse BM25 head, dense cosine head). The dense
    // list retrieves over `embeddings` (vec_id is the doc key for
    // embedded docs — only embedded docs are dense-retrievable).
    Query("q_hybrid_search", s"""
      WITH br AS (${bm25Sql(fuseN)}),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $denseQueryId),
      dc AS (SELECT e.vec_id AS doc_id, ${cosSql("q.qv", "e.embedding")} AS cosine
             FROM embeddings e CROSS JOIN q WHERE e.vec_id <> $denseQueryId),
      dh AS (SELECT doc_id, cosine FROM dc ORDER BY cosine DESC, doc_id LIMIT $fuseN),
      dr AS (SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS rank
             FROM dh),
      f AS (SELECT COALESCE(br.doc_id, dr.doc_id) AS doc_id,
              br.rank AS rank_0, dr.rank AS rank_1
            FROM br FULL OUTER JOIN dr ON br.doc_id = dr.doc_id),
      g AS (SELECT doc_id, rank_0, rank_1,
              COALESCE(1.0 / CAST($rrfK + rank_0 AS DOUBLE), 0.0)
              + COALESCE(1.0 / CAST($rrfK + rank_1 AS DOUBLE), 0.0) AS rrf
            FROM f),
      hd AS (SELECT doc_id, rank_0, rank_1, rrf FROM g
             ORDER BY rrf DESC, doc_id LIMIT $fuseK)
      SELECT doc_id, rank_0, rank_1, rrf,
             CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
      FROM hd ORDER BY rank""", { (s, dir) =>
      val sparse = Retrieval.bm25TopK(
        Tables.documents(s, dir), "doc_id", "text", terms, fuseN, k1, b)
      val dense = Retrieval.denseTopN(
          Tables.embeddings(s, dir), "vec_id", "embedding", denseQueryId, fuseN)
        .select(col("vec_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), "doc_id", "rank", rrfK, fuseK)
    }),
  )
}
