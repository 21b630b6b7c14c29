package graft

import scala.util.Random

import graft.operators.Bpe

/** BPE training/encoding vs an independent textbook reference: symbol
  * LISTS with overlapping pair counting and greedy left-to-right merge
  * application — none of the string/replace machinery the operator
  * uses, so representation bugs (cross-symbol matches, stolen
  * boundary spaces, overlap handling) can't cancel out. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Textbook BPE on a word-frequency map. Returns (merges, reprs). */
  private def refBpe(words: Map[String, Long], k: Int)
      : (Seq[(Int, String, String, String, Long)], Map[String, Vector[String]]) = {
    var reprs = words.map { case (w, _) => w -> w.map(_.toString).toVector }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var t = 1
    var stop = false
    while (t <= k && !stop) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- reprs; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + words(w)
      if (counts.isEmpty) stop = true
      else {
        val ((a, b), cnt) = counts.toSeq.minBy { case ((x, y), c) =>
          (-c, s"$x $y")
        }
        merges += ((t, a, b, a + b, cnt))
        reprs = reprs.map { case (w, syms) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          w -> out.result()
        }
        t += 1
      }
    }
    (merges.result(), reprs)
  }

  private def corpusFreqs(docs: Seq[(Long, String)]): Map[String, Long] =
    docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, o) => w -> o.size.toLong }

  test("train matches the textbook reference on the Sennrich-style example") {
    val docs = Seq(
      (1L, Array.fill(5)("low").mkString(" ")),
      (2L, Array.fill(2)("lower").mkString(" ")),
      (3L, Array.fill(6)("newest").mkString(" ")),
      (4L, Array.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val got = Bpe.train(docs, "text", merges = 6)
      .map(m => (m.round, m.lhs, m.rhs, m.merged, m.pairCount))
    val (want, _) = refBpe(
      Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 6)
    assert(got == want)
  }

  test("train + encode match the reference on random corpora (overlaps included)") {
    val rnd = new Random(7)
    val alphabet = "ab"
    for (trial <- 1 to 3) {
      val docs = (0 until 20).map { i =>
        val words = Seq.fill(3 + rnd.nextInt(5))(
          (0 until 1 + rnd.nextInt(6))
            .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
        (i.toLong, words.mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val freqs = corpusFreqs(docs)
      val k = 4
      val gotMerges = Bpe.train(df, "text", k)
      val (wantMerges, wantReprs) = refBpe(freqs, k)
      assert(gotMerges.map(m => (m.round, m.lhs, m.rhs, m.merged, m.pairCount))
        == wantMerges, s"trial $trial freqs=$freqs")
      val gotEnc = Bpe.encode(df, "doc_id", "text", gotMerges)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      docs.foreach { case (id, text) =>
        val ws = text.split(" ").filter(_.nonEmpty)
        val want = (ws.length.toLong, ws.map(w => wantReprs(w).length.toLong).sum)
        assert(gotEnc(id) == want, s"trial $trial doc $id: $text")
      }
    }
  }

  test("driver fast path and distributed loop learn identical merges") {
    val docs = Seq(
      (1L, "low low low low low lower lower newest newest newest"),
      (2L, "newest newest newest widest widest widest aaa abb bbb"),
    ).toDF("doc_id", "text")
    val local = Bpe.train(docs, "text", merges = 6) // vocab << bound → local
    val dist = Bpe.train(docs, "text", merges = 6, localVocabBound = 0)
    assert(local == dist)
    assert(local.size == 6)
  }

  test("a vocabulary of exactly localVocabBound words takes the fast path; one more word the distributed loop; both learn the same merges") {
    val docs = Seq(
      (1L, "low low low low low lower lower newest newest newest"),
      (2L, "newest newest newest widest widest widest aaa abb bbb"),
    ).toDF("doc_id", "text")
    val v = corpusFreqs(docs.as[(Long, String)].collect().toSeq).size
    val sc = spark.sparkContext
    def trainCounted(bound: Int): (Seq[Bpe.Merge], Int) = {
      val before = sc.getPersistentRDDs.keySet
      var merges = Seq.empty[Bpe.Merge]
      val jobs = jobsDuring {
        merges = Bpe.train(docs, "text", merges = 6, localVocabBound = bound)
      }
      assert(sc.getPersistentRDDs.keySet == before, s"bound=$bound left RDDs persisted")
      (merges, jobs)
    }
    val (fast, fastJobs) = trainCounted(v)
    val (dist, distJobs) = trainCounted(v - 1)
    // every distributed merge round is its own collect job
    assert(fastJobs < 6 && distJobs >= 6, s"fast=$fastJobs dist=$distJobs jobs")
    assert(fast == dist)
    assert(fast.size == 6)
  }

  test("repeated symbols merge left-to-right, and merged symbols can't be split-matched") {
    // 'aaa' under merge (a,a) must become [aa, a], never [a, aa] or [aaa];
    // 'abb' under merge (a,b) must become [ab, b], and a following (b,b)
    // round must NOT match across the 'ab  b' boundary
    val docs = Seq((1L, "aaa aaa abb bb")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 2)
    val (want, _) = refBpe(Map("aaa" -> 2L, "abb" -> 1L, "bb" -> 1L), 2)
    assert(merges.map(m => (m.round, m.lhs, m.rhs, m.merged, m.pairCount)) == want)
  }

  test("train stops early when no adjacent pair remains") {
    val docs = Seq((1L, "a b c a")).toDF("doc_id", "text")
    assert(Bpe.train(docs, "text", 5).isEmpty)
  }
}
