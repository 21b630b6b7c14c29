package graft.queries

import graft.Tables
import graft.operators.Bpe

/** SURVEY.md §2 L6/L7 — BPE vocabulary induction + application.
  *
  * Both oracles replay the ENTIRE training loop in SQL: the word-freq
  * table, the per-character initial representation, and one generated
  * CTE trio per merge round (pair counts → deterministic top-1 →
  * replace application), exactly the per-round generated-CTE pattern
  * the Lloyd-replay gates use (ClusteringQueries). All arithmetic is
  * integer; ties break lexicographically — nothing engine-specific
  * anywhere in the loop.
  */
object BpeQueries {

  private val Merges = 8

  /** One merge round: pair explode → weighted count → deterministic
    * top-1 → double-space replace. `sym[i] || ' ' || sym[i+1]` matches
    * the Spark side's `string_ngrams(syms, 2)` format exactly.
    *
    * `trim(repr, ' ')` with the EXPLICIT one-character set, never bare
    * `trim(repr)`: DuckDB's bare trim strips Unicode space category
    * characters (NBSP U+00A0 included) while Spark's `trim` strips
    * only 0x20 — on a corpus whose words contain edge NBSPs the bare
    * form silently deletes a symbol per word (caught by the sf10 scale
    * proof: 51-token drift on every copy-63 document). */
  private def roundCtes(t: Int): String = {
    val prev = s"r${t - 1}"
    s"""p$t AS MATERIALIZED (
      SELECT unnest(list_transform(range(1, len(sym)),
               i -> sym[i] || ' ' || sym[i+1])) AS pair, freq
      FROM (SELECT string_split(trim(repr, ' '), '  ') AS sym, freq FROM $prev)),
    b$t AS MATERIALIZED (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM p$t
      GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
    r$t AS MATERIALIZED (
      SELECT w,
             replace(repr,
               ' ' || (SELECT string_split(pair, ' ')[1] FROM b$t) || '  ' ||
                      (SELECT string_split(pair, ' ')[2] FROM b$t) || ' ',
               ' ' || (SELECT replace(pair, ' ', '') FROM b$t) || ' ') AS repr,
             freq
      FROM $prev)"""
  }

  private def trainChain(k: Int): String =
    s"""tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    wf AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY w),
    r0 AS MATERIALIZED (SELECT w,
             ' ' || array_to_string(
               list_transform(range(1, len(w) + 1), i -> w[i]), '  ') || ' '
               AS repr,
             freq
           FROM wf),
    ${(1 to k).map(roundCtes).mkString(",\n    ")}"""

  val queries: Seq[Query] = Seq(
    // L6 — learned merge table: any drift in tokenization, pair
    // counting, tie-breaks or merge application changes some row
    Query("q_bpe_train", s"""
      WITH ${trainChain(Merges)}
      SELECT round, lhs, rhs, merged, pair_count FROM (
        ${(1 to Merges).map { t =>
          s"""SELECT $t AS round,
               string_split(pair, ' ')[1] AS lhs,
               string_split(pair, ' ')[2] AS rhs,
               replace(pair, ' ', '') AS merged,
               cnt AS pair_count
             FROM b$t"""
        }.mkString("\n        UNION ALL\n        ")}
      ) ORDER BY round""", { (s, dir) =>
      Bpe.trainAsFrame(s, Tables.documents(s, dir), "text", Merges)
    }),
    // L7 — the vocabulary applied back to the corpus: per-doc subword
    // token counts under the learned merges (the real token-budget
    // number a packing/mixing step consumes)
    Query("q_bpe_encode", s"""
      WITH ${trainChain(Merges)},
      enc AS (SELECT w,
                CAST(len(string_split(trim(repr, ' '), '  ')) AS INT) AS nsym
              FROM r$Merges),
      dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents)
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(nsym) AS BIGINT) AS n_tokens
      FROM dtok JOIN enc USING (w)
      GROUP BY doc_id ORDER BY doc_id""", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Bpe.encode(docs, "doc_id", "text", Bpe.train(docs, "text", Merges))
    }),
    // L7×Q4 — token-budget packing under REAL tokenizer counts: the Q4
    // greedy prefix-sum bins sized by the learned BPE subword counts
    // instead of whitespace words, so shard layouts match what a
    // trainer consumes. The oracle replays the full training chain +
    // encode join + the Q4 window verbatim — a drift in either the
    // merge table or the bin arithmetic moves a boundary.
    Query("q_token_pack_bpe", s"""
      WITH ${trainChain(Merges)},
      enc AS (SELECT w,
                CAST(len(string_split(trim(repr, ' '), '  ')) AS INT) AS nsym
              FROM r$Merges),
      dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
      cnt AS (
        SELECT doc_id, CAST(SUM(nsym) AS BIGINT) AS sz
        FROM dtok JOIN enc USING (w) GROUP BY doc_id),
      d AS (
        SELECT dd.source, dd.doc_id, c.sz
        FROM documents dd JOIN cnt c USING (doc_id)),${OracleSql.packBins}""", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val counts = Bpe.encodeCounts(
        docs, "doc_id", "text", Bpe.train(docs, "text", Merges))
      graft.operators.Curation.packSequences(
        docs.join(counts, Seq("doc_id")), "source", "doc_id",
        org.apache.spark.sql.functions.col("n_tokens"), budget = 256L)
    }),
  )
}
