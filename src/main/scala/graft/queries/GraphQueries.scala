package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Graph

/** SURVEY.md §2 S — link-graph authority scoring on a deterministic
  * doc-id-derived link graph (the corpus has no URL graph, so the gate
  * synthesizes one — the Q12/M1 inject pattern: three out-links per
  * document via affine maps mod N, every edge replayable in SQL).
  */
object GraphQueries {

  /** (multiplier, offset) per synthesized out-link. */
  private val linkMaps = Seq((7L, 3L), (131L, 17L), (9973L, 101L))

  /** The shared synthesized edge list: three affine out-links per doc
    * mod N, N broadcast from the 1-row max (one lazy plan). */
  private def synthEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docs.agg((max("doc_id") + 1).as("n"))
    docs.crossJoin(broadcast(n)).select(
      col("doc_id").as("src"),
      explode(array(linkMaps.map { case (m, o) =>
        (col("doc_id") * m + o) % col("n")
      }: _*)).as("dst"))
  }

  private val lpaIters = 3
  private val hitsIters = 2

  private val edgeCte = s"""
        WITH nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        e AS MATERIALIZED (${linkMaps.map { case (m, o) =>
      s"SELECT doc_id AS src, (doc_id * $m + $o) % n AS dst FROM documents, nn"
    }.mkString(" UNION ALL ")})"""

  /** The edge list plus its node set, the prelude of PageRank and HITS. */
  private val edgeNodeCtes = s"""$edgeCte,
        nodes AS MATERIALIZED (
          SELECT DISTINCT x AS node FROM (
            SELECT src AS x FROM e UNION ALL SELECT dst FROM e))"""

  // one round: contributions keyed by src, floor-divided shares,
  // damped floor-divided inflow over the full node set
  private def round(prev: String, cur: String): String = s"""
      s_$cur AS MATERIALIZED (
        SELECT e.dst, CAST(SUM($prev.rank // od.out_c) AS BIGINT) AS inflow
        FROM e JOIN $prev ON e.src = $prev.node
               JOIN od ON e.src = od.src
        GROUP BY e.dst),
      $cur AS MATERIALIZED (
        SELECT node, CAST((3 * 1048576) // 20
          + (17 * COALESCE(inflow, 0)) // 20 AS BIGINT) AS rank
        FROM nodes LEFT JOIN s_$cur ON node = dst)"""

  // one HITS half-round: keyed sum over the edge list, then the
  // overflow-free normalization x // GREATEST(1, max // S)
  private def half(src: String, dst: String, prev: String, prevCol: String,
                   cur: String, curCol: String): String = s"""
      r_$cur AS MATERIALIZED (
        SELECT node, COALESCE(s, CAST(0 AS BIGINT)) AS $curCol
        FROM nodes LEFT JOIN (
          SELECT e.$dst AS node, CAST(SUM(p.$prevCol) AS BIGINT) AS s
          FROM e JOIN $prev p ON e.$src = p.node GROUP BY e.$dst) x
        USING (node)),
      m_$cur AS MATERIALIZED (SELECT MAX($curCol) AS mx FROM r_$cur),
      $cur AS MATERIALIZED (
        SELECT node, $curCol // GREATEST(CAST(1 AS BIGINT),
          (SELECT mx FROM m_$cur) // 1048576) AS $curCol
        FROM r_$cur)"""

  private val hitsRounds = (0 until hitsIters).map { t =>
    val ph = if (t == 0) "h0" else s"h$t"
    half("src", "dst", ph, "hub", s"a${t + 1}", "auth") + "," +
      half("dst", "src", s"a${t + 1}", "auth", s"h${t + 1}", "hub")
  }.mkString(",")

  // one synchronous LPA round: neighbor-label counts, then the
  // (max count, min label) argmax, isolated nodes keep their label
  private def lpaRound(prev: String, cur: String): String = s"""
      c_$cur AS MATERIALIZED (
        SELECT nb.node, p.lbl, COUNT(*) AS cnt
        FROM nb JOIN $prev p ON nb.nbr = p.node
        GROUP BY nb.node, p.lbl),
      b_$cur AS MATERIALIZED (
        SELECT node, lbl FROM (
          SELECT node, lbl, ROW_NUMBER() OVER (
            PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
          FROM c_$cur) WHERE rn = 1),
      $cur AS MATERIALIZED (
        SELECT n.node, COALESCE(b.lbl, p.lbl) AS lbl
        FROM nodes n JOIN $prev p USING (node)
        LEFT JOIN b_$cur b USING (node))"""

  /** The undirected neighbor multiset and every unrolled LPA round,
    * ending in `l<lpaIters>`. */
  private val lpaCtes = s"""$edgeCte,
        nb AS MATERIALIZED (
          SELECT src AS node, dst AS nbr FROM e
          UNION ALL SELECT dst, src FROM e),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM nb),
        l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
        ${(0 until lpaIters).map(t => lpaRound(s"l$t", s"l${t + 1}")).mkString(",")}"""

  val queries: Seq[Query] = Seq(
    // S3 — label-propagation communities on the same synthesized link
    // graph: 3 synchronous rounds, undirected neighbor multiset,
    // (max count, min label) tie-break — the oracle replays every
    // round's count/argmax in unrolled CTEs, so a lost neighbor, a
    // tie-break inversion or a stale-label read in ANY round moves a
    // community assignment and fails the row hash.
    Query("q_label_prop", s"""$lpaCtes
        SELECT node AS doc_id, lbl AS community FROM l$lpaIters
        ORDER BY doc_id""", { (s, dir) =>
      Graph.labelPropagation(synthEdges(s, dir), "src", "dst", iters = lpaIters)
        .withColumnRenamed("node", "doc_id")
        .withColumnRenamed("lbl", "community")
    }),
    // S1 — PageRank: the full power iteration (3 rounds, damping 17/20,
    // 2^20 fixed-point grid) runs in exact integer arithmetic, and the
    // oracle replays every round in unrolled materialized CTEs — a
    // drift in any share floor-division, damping floor, or a lost edge
    // in any round moves a rank and fails the hash.
    Query("q_pagerank", s"""$edgeNodeCtes,
        od AS MATERIALIZED (
          SELECT src, COUNT(*) AS out_c FROM e GROUP BY src),
        r0 AS MATERIALIZED (
          SELECT node, CAST(1048576 AS BIGINT) AS rank FROM nodes),
        ${round("r0", "r1")},
        ${round("r1", "r2")},
        ${round("r2", "r3")}
        SELECT node AS doc_id, rank FROM r3 ORDER BY node""", { (s, dir) =>
      // dense ids ⇒ N = max+1; the 1-row max broadcasts into the edge
      // synthesis (the ChainRefs scalar pattern — still one lazy plan)
      Graph.pageRank(synthEdges(s, dir), "src", "dst", iters = 3)
        .withColumnRenamed("node", "doc_id")
    }),
    // S3+Q15 COMPOSED — per-community corpus profiling, the stated
    // PURPOSE of label propagation in a curation lake (find the
    // communities, then process each one): LPA communities joined to
    // the Gopher quality signals, aggregated per community to (size,
    // survivors of the Q15 cut, token mass) — integer-exact
    // aggregates, so the hash gates the COMPOSITION (a drift in any
    // LPA round, any signal, or the threshold predicate moves a row),
    // not just each operator alone. One extra exchange over LPA
    // itself: the doc_id-keyed join is node-proportional and the
    // final agg is ∝communities. The oracle runs the LPA rounds and the
    // Q15 signals body verbatim (nested WITH — DuckDB scopes it to the
    // CTE), then the composed per-community aggregate.
    Query("q_community_profile", s"""$lpaCtes,
        sig AS MATERIALIZED (${CurationQueries.qualitySignalsSql}),
        kd AS (
          SELECT s.doc_id, s.n_words,
            CASE WHEN s.n_words >= ${CurationQueries.qualityThresholds._1}
              AND s.distinct_word_frac >= ${CurationQueries.qualityThresholds._2}
              AND s.top_word_share <= ${CurationQueries.qualityThresholds._3}
              THEN 1 ELSE 0 END AS kept
          FROM sig s)
        SELECT l.lbl AS community,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(kd.kept) AS BIGINT) AS n_kept,
          CAST(SUM(kd.n_words) AS BIGINT) AS sum_words
        FROM l$lpaIters l JOIN kd ON l.node = kd.doc_id
        GROUP BY 1 ORDER BY community""", { (s, dir) =>
      val com = Graph.labelPropagation(synthEdges(s, dir), "src", "dst", iters = lpaIters)
        .withColumnRenamed("node", "doc_id")
        .withColumnRenamed("lbl", "community")
      val sig = graft.operators.Curation.repetitionSignals(
        Tables.documents(s, dir), Seq("doc_id"), "text")
      val (minW, minD, maxT) = CurationQueries.qualityThresholds
      val kept = col("n_words") >= minW &&
        col("distinct_word_frac") >= minD && col("top_word_share") <= maxT
      sig.join(com, "doc_id")
        .groupBy("community")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(kept, lit(1L)).otherwise(lit(0L))).as("n_kept"),
          sum(col("n_words").cast("long")).as("sum_words"))
        .orderBy("community")
    }),
    // S2 — HITS on the same synthesized link graph: every half-round
    // (authority sum, overflow-free floor normalization, hub sum,
    // normalization) replays in unrolled CTEs — a drift in any join,
    // sum, max, or floor division in any half-round moves a score.
    Query("q_hits", s"""$edgeNodeCtes,
        h0 AS MATERIALIZED (
          SELECT node, CAST(1048576 AS BIGINT) AS hub FROM nodes),
        $hitsRounds
        SELECT h.node AS doc_id, h.hub, a.auth
        FROM h$hitsIters h JOIN a$hitsIters a USING (node)
        ORDER BY doc_id""", { (s, dir) =>
      Graph.hits(synthEdges(s, dir), "src", "dst", iters = hitsIters)
        .withColumnRenamed("node", "doc_id")
    }),
  )
}
