package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Classifier

/** Q18 learned quality classifier vs a plain-Scala reference of the
  * SAME integer training loop (md5 buckets, hard sigmoid, floorDiv
  * update, clip), plus the learning-direction sanity a hash replay
  * can't express, and the batch/stream serving parity. */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val S = Classifier.S
  private val B = 16

  private def md5hex8(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }
  private def bucket(t: String): Int = (md5hex8(t) % B).toInt

  /** The full loop, independently: one doc = its distinct buckets +
    * intercept B; margins, hard-sigmoid errors, gradient sums, clipped
    * floorDiv updates — all in plain Scala longs. */
  private def refFit(
      docs: Seq[(Long, String, Boolean)], epochs: Int): Array[Long] = {
    val feats = docs.map { case (_, text, y) =>
      (text.split(" ", -1).map(bucket).distinct :+ B, y)
    }
    val n = feats.size.toLong
    val w = Array.fill(B + 1)(0L)
    for (_ <- 1 to epochs) {
      val g = Array.fill(B + 1)(0L)
      feats.foreach { case (bs, y) =>
        val m = bs.map(w(_)).sum
        val p = Math.max(0L, Math.min(4 * S, m + 2 * S)) >> 2
        val e = p - (if (y) S else 0L)
        bs.foreach(b => g(b) += e)
      }
      for (b <- 0 to B) {
        val d = Math.floorDiv(g(b), 4L * n)
        w(b) = Math.max(-Classifier.Clip, Math.min(Classifier.Clip, w(b) - d))
      }
    }
    w
  }

  // a separable toy corpus: seed docs carry "lucid prose", wild docs
  // either mimic the seed vocabulary or carry junk tokens
  private val corpus: Seq[(Long, String, Boolean)] = Seq(
    (0L, "lucid prose about careful work", true),
    (1L, "lucid prose on measured thought", true),
    (2L, "prose lucid and careful thought", true),
    (3L, "lucid careful measured prose work", true),
    (10L, "lucid prose with careful thought here", false),
    (11L, "measured lucid prose work sample", false),
    (12L, "zxq qqzz vvkk jjpp wwyy", false),
    (13L, "zxq vvkk qqzz wwyy jjpp zz", false),
    (14L, "zxq zxq zxq qqzz vvkk", false))

  private def df = corpus.toDF("doc_id", "text", "y")

  test("fit matches the plain-Scala reference loop bit-for-bit") {
    for (epochs <- Seq(1, 3, 5)) {
      val got = Classifier.fit(df, "doc_id", "text", col("y"), B, epochs)
      assert(got.toSeq == refFit(corpus, epochs).toSeq, s"epochs=$epochs")
    }
  }

  test("the classifier separates seed-like from junk candidates") {
    val out = Classifier.trainAndScore(df, "doc_id", "text", col("y"), B, 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L, 14L))
    // every seed-like candidate outscores every junk candidate
    val like = Seq(10L, 11L).map(out(_)._1).min
    val junk = Seq(12L, 13L, 14L).map(out(_)._1).max
    assert(like > junk, s"seed-like min $like !> junk max $junk")
  }

  test("fit is deterministic across repartitioned input") {
    val a = Classifier.fit(df.repartition(7), "doc_id", "text", col("y"), B, 4)
    val b = Classifier.fit(df.repartition(2), "doc_id", "text", col("y"), B, 4)
    assert(a.toSeq == b.toSeq)
  }

  test("streaming scorer serves the offline fit with batch parity") {
    val w = Classifier.fit(df, "doc_id", "text", col("y"), B, 8)
    val batch = Classifier.trainAndScore(df, "doc_id", "text", col("y"), B, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    val input = MemoryStream[(Long, String)](spark)
    val scored = Classifier.score(
      input.toDF.toDF("doc_id", "text"), "doc_id", "text", w, B)
    val q = scored.writeStream.format("memory").queryName("clf_out")
      .outputMode("append").start()
    try {
      input.addData(corpus.collect { case (id, t, y) if !y => (id, t) }: _*)
      q.processAllAvailable()
      val got = spark.table("clf_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      assert(got == batch)
    } finally q.stop()
  }

  /** A four-language corpus whose texts are built from each language's
    * own stopwords (the L2 heuristic's vocabulary) — so the LEARNED
    * classifier and the stopword heuristic can be held to parity on
    * exactly the ground the heuristic owns. */
  private def langCorpus: Seq[(Long, String, String)] = {
    import graft.operators.TextAnalysis
    val raw = Map(
      "en" -> TextAnalysis.stopEn, "fr" -> TextAnalysis.stopFr,
      "de" -> TextAnalysis.stopDe, "es" -> TextAnalysis.stopEs)
    // each language keeps only the stopwords IT ALONE owns (the lists
    // overlap — 'la' is French and Spanish), so both classifiers see
    // unambiguous signal and strict per-doc parity is a fair ask
    val vocab = raw.map { case (l, ws) =>
      l -> ws.filterNot(w => raw.exists { case (o, ows) => o != l && ows.contains(w) })
    }
    val langs = Seq("de", "en", "es", "fr")
    (0L until 120L).map { i =>
      // i/2 so consecutive (even, odd) ids share a language — the
      // even-id train half and the odd-id held-out half BOTH carry
      // every class (i % 4 would put two languages entirely in the
      // held-out half: a one-vs-rest fit with zero positives)
      val l = langs((i / 2 % 4).toInt)
      val ws = vocab(l)
      val text = (0 until 12).map(j => ws(((i * 7 + j * 5) % ws.size).toInt))
        .mkString(" ")
      (i, text, l)
    }
  }

  test("learned language ID: held-out accuracy and heuristic parity") {
    val docs = langCorpus.toDF("doc_id", "text", "lang")
    val got = Classifier.langIdLearned(
      docs, "doc_id", "text", "lang", col("doc_id") % 2 === 0,
      buckets = 1024, epochs = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.length === 60) // the odd half is held out
    // stopword-built texts are maximally separable: the learned model
    // must get every held-out doc right...
    got.foreach { case (id, truth, pred) =>
      assert(pred === truth, s"doc $id: predicted $pred, truth $truth") }
    // ...and therefore agree with the stopword heuristic wherever the
    // heuristic itself is right (its home turf by construction)
    val heur = graft.operators.TextAnalysis
      .langId(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    got.foreach { case (id, truth, pred) =>
      if (heur(id) == truth) assert(pred === heur(id)) }
  }

  test("null/empty language labels fail LOUDLY, not with an opaque NPE") {
    val withNull = langCorpus.map { case (i, t, l) =>
      (i, t, if (i == 7) null else l)
    }.toDF("doc_id", "text", "lang")
    val ex = intercept[IllegalArgumentException] {
      Classifier.langIdLearned(
        withNull, "doc_id", "text", "lang", col("doc_id") % 2 === 0,
        buckets = 256, epochs = 1)
    }
    assert(ex.getMessage.contains("null/empty language labels"))
  }

  test("batched multi-class fit is bit-identical to K sequential fits") {
    val docs = langCorpus.toDF("doc_id", "text", "lang")
    val (langs, ws) = Classifier.langIdFit(
      docs, "doc_id", "text", "lang", col("doc_id") % 2 === 0,
      buckets = 256, epochs = 4)
    val feat = docs.select(
        col("doc_id").as("__id"), col("lang").cast("string").as("__lang"),
        (col("doc_id") % 2 === 0).as("__train"),
        Classifier.charGramBuckets(col("text"), 256, 3).as("__barr"))
      .where(col("__train")).localCheckpoint(true)
    langs.zip(ws).foreach { case (l, w) =>
      val one = Classifier.fitOnFeatures(
        feat.withColumn("__y", col("__lang") === l), 256, 4, 8L)
      assert(w.toSeq == one.toSeq, s"class $l diverged from its solo fit")
    }
  }

  test("learned language ID serves on a stream with batch parity") {
    val docs = langCorpus.toDF("doc_id", "text", "lang")
    val (langs, ws) = Classifier.langIdFit(
      docs, "doc_id", "text", "lang", col("doc_id") % 2 === 0,
      buckets = 1024, epochs = 8)
    val batch = Classifier.langIdLearned(
      docs, "doc_id", "text", "lang", col("doc_id") % 2 === 0,
      buckets = 1024, epochs = 8)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    val input = MemoryStream[(Long, String)](spark)
    val best = Classifier.langIdServe(col("text"), langs, ws, 1024)
    val scored = input.toDF.toDF("doc_id", "text").select(col("doc_id"),
      best.getField("lang_pred").as("lang_pred"), best.getField("margin").as("margin"))
    assert(scored.isStreaming)
    val q = scored.writeStream.format("memory").queryName("lang_out")
      .outputMode("append").start()
    try {
      input.addData(langCorpus.collect { case (id, t, _) if id % 2 == 1 => (id, t) }: _*)
      q.processAllAvailable()
      val got = spark.table("lang_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("weight-vector shape is validated loudly") {
    val ex = intercept[IllegalArgumentException] {
      Classifier.score(
        df.select("doc_id", "text"), "doc_id", "text", Array(0L, 1L), B)
    }
    assert(ex.getMessage.contains("weights"))
  }
}
