package graft

import scala.util.Random
import org.apache.spark.sql.functions.lit
import graft.operators.{Curation, Dedup}

/** Randomized-structure tests for the curation/dedup operators
  * (fixed seed — deterministic): exact n-gram Jaccard pairs must agree
  * with a brute-force pairwise recount, span dedup with a plain
  * Scala sliding-window recount, the PII scrubber with a direct
  * `java.util.regex` reference, and the Bloom decontamination path
  * with the exact join on random corpora — including configurations
  * chosen to force Bloom false positives.
  */
class CurationPropertySpec extends SparkSpec {
  import spark.implicits._

  private val words = Array("a", "b", "c", "d", "e")

  /** Brute-force exact blocked n-gram Jaccard: every same-block pair of
    * docs with ≥ n tokens, scored from distinct word n-gram sets with
    * the operator's arithmetic; pairs sharing no n-gram never appear. */
  private def bruteJaccard(
      docs: Seq[(Long, String, String)], n: Int, minJ: Double): Seq[((Long, Long), Double)] = {
    val sets = docs.map { case (id, block, text) =>
      (id, block, text.split(" ", -1).toSeq.sliding(n).filter(_.size == n).toSet)
    }.filter(_._3.nonEmpty)
    (for {
      (a, ba, sa) <- sets; (b, bb, sb) <- sets
      if a < b && ba == bb
      common = (sa intersect sb).size
      if common > 0
      j = common.toDouble / (sa.size + sb.size - common).toDouble
      if j >= minJ
    } yield (a, b) -> j).sortBy(_._1)
  }

  test("ngramJaccardPairs agrees with a brute-force pairwise Jaccard on random corpora") {
    val rnd = new Random(17)
    // ASCII and multi-byte tokens; tiny alphabets make shared n-grams common
    val alphabets = Seq(words, Array("é", "日本", "ü", "a", "ß"))
    for (trial <- 1 to 6) {
      val n = 2 + rnd.nextInt(3)
      val alpha = alphabets(trial % 2)
      val minJ = Seq(0.1, 0.3, 0.5)(rnd.nextInt(3))
      val base = (0 until 12 + rnd.nextInt(12)).map { _ =>
        rnd.nextInt(6) match {
          case 0 => Seq.fill(n)(alpha(rnd.nextInt(alpha.length)))          // exactly n tokens
          case 1 => Seq.fill(rnd.nextInt(n))(alpha(rnd.nextInt(alpha.length))) // shorter than n
          case 2 => Seq.fill(3 + rnd.nextInt(4))(alpha.take(2)).flatten      // repeated n-grams
          case _ => Seq.fill(n + rnd.nextInt(8))(alpha(rnd.nextInt(alpha.length)))
        }
      }.map(_.mkString(" "))
      // identical docs: copy a few texts under fresh ids
      val texts = base ++ Seq.fill(3)(base(rnd.nextInt(base.size)))
      val docs = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, Seq("x", "y", "z")(rnd.nextInt(3)), t)
      }
      val df = docs.toDF("doc_id", "source", "text")
      val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", "source", n, minJ)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toSeq
      assert(got == bruteJaccard(docs, n, minJ), s"trial=$trial n=$n minJ=$minJ docs=$docs")
      // the one-block composition q_dedup_minhash makes
      val oneBlock = Dedup.ngramJaccardFromShingles(
        Dedup.shingleFrame(df, "doc_id", "text", n).withColumn("block", lit(1)), minJ)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toSeq.sortBy(_._1)
      assert(oneBlock == bruteJaccard(docs.map(d => d.copy(_2 = "")), n, minJ),
        s"one block: trial=$trial n=$n minJ=$minJ docs=$docs")
    }
  }

  test("spanDedup agrees with a brute-force sliding-window recount on random corpora") {
    val rnd = new Random(7)
    for (_ <- 1 to 5) {
      val nDocs = 5 + rnd.nextInt(15)
      val spanLen = 2 + rnd.nextInt(3)
      val docs = (0 until nDocs).map { i =>
        // tiny alphabet + short docs → cross-doc duplicate spans occur
        (i.toLong, Seq.fill(spanLen + rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val expected = docs
        .flatMap { case (id, text) =>
          val t = text.split(" ")
          if (t.length < spanLen) Seq.empty
          else t.sliding(spanLen).map(w => (w.mkString(" "), id)).toSeq
        }
        .groupBy(_._1)
        .map { case (span, occ) =>
          span -> ((occ.map(_._2).distinct.size.toLong, occ.size.toLong))
        }
        .filter(_._2._1 >= 2)
      val got = Dedup.spanDedup(docs.toDF("doc_id", "text"), "doc_id", "text", spanLen)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == expected, s"spanLen=$spanLen docs=$docs")
    }
  }

  test("piiScrub agrees with a direct java.util.regex reference on random injections") {
    val pats = Seq(
      ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      ("ips", "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b", "<IP>"))
    val rnd = new Random(11)
    val docs = (0 until 30).map { i =>
      val base = Seq.fill(3 + rnd.nextInt(6))(words(rnd.nextInt(words.length)))
      val withPii = base.flatMap { w =>
        rnd.nextInt(4) match {
          case 0 => Seq(w, s"u${rnd.nextInt(99)}@x${rnd.nextInt(9)}.org")
          case 1 => Seq(w, s"10.${rnd.nextInt(255)}.0.${rnd.nextInt(255)}")
          case _ => Seq(w)
        }
      }
      (i.toLong, withPii.mkString(" "))
    }
    val got = Curation.piiScrub(docs.toDF("doc_id", "text"), "doc_id", "text", pats)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    docs.foreach { case (id, text) =>
      // sequential reference: count each pattern on the text as it
      // stands when that pattern runs (the counts==markers contract)
      val nEmails = pats(0)._2.r.findAllIn(text).size
      val afterEmails = text.replaceAll(pats(0)._2, pats(0)._3)
      val nIps = pats(1)._2.r.findAllIn(afterEmails).size
      val scrubbed = afterEmails.replaceAll(pats(1)._2, pats(1)._3)
      assert(got(id) == ((nEmails, nIps, scrubbed)), s"doc $id: $text")
    }
  }

  test("decontaminateBloom equals the exact join on random corpora, even with a tiny filter") {
    val rnd = new Random(13)
    for (trial <- 1 to 4) {
      val n = 2 + rnd.nextInt(2)
      val mk = () => Seq.fill(n + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" ")
      val train = (0 until 10 + rnd.nextInt(20)).map(i => (i.toLong, mk()))
      val bench = (100 until 100 + 1 + rnd.nextInt(5)).map(i => (i.toLong, mk()))
      val tDf = train.toDF("doc_id", "text")
      val bDf = bench.toDF("doc_id", "text")
      val exact = Curation.decontaminate(tDf, bDf, "doc_id", "text", n)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // alternate between a roomy filter and a deliberately over-filled
      // one (64 bits): false positives flood the prefilter but the
      // exact verify join must still pin the result
      val bits = if (trial % 2 == 0) 1L << 16 else 64L
      val bloom = Curation.decontaminateBloom(
        tDf, bDf, "doc_id", "text", n, expectedGrams = 16, numBits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(bloom == exact, s"trial=$trial n=$n")
    }
  }
}
