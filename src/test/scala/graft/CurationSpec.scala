package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions
import graft.operators.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  /** The composed column-algebra form of [[Curation.repetitionSignals]]
    * — the bit-equal reference implementation (HOF folds + sort-based
    * multiplicities) of its one compiled pass. */
  def repetitionSignalsHof(
      df: DataFrame, idCols: Seq[String], textCol: String): DataFrame = {
    // Materialize the token array FIRST: lambda bodies referencing the
    // split(...) expression re-evaluate it once per array element
    // (lambdas don't cache subexpressions) — an O(L²) re-split per doc.
    // Behind a bound column reference each signal is one O(L log L) pass.
    val words = col("__words")
    val n = size(words)
    // bigram i = zip(words, words[2:]) — no per-element indexed lookup
    val bigrams = zip_with(words, slice(words, lit(2), n - 1),
      (a, b) => when(b.isNotNull, concat_ws(" ", a, b)))
    df.withColumn("__words", split(col(textCol), " "))
      .select(
        idCols.map(col) ++ Seq(
          n.as("n_words"),
          (size(array_distinct(words)).cast("double") / n).as("distinct_word_frac"),
          (HashFunctions.max_multiplicity(words).cast("double") / n).as("top_word_share"),
          when(n >= 2,
            HashFunctions.max_multiplicity(filter(bigrams, _.isNotNull)).cast("double") / (n - 1))
            .as("top_bigram_share"),
          (aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / n)
            .as("mean_word_len")): _*)
      .orderBy(idCols.map(col): _*)
  }

  /** The composed reference form of the native
    * [[graft.functions.StringNgrams]]: a CodegenFallback lambda per gram,
    * each slicing a window copy; `toks` must be a bound column, not a
    * `split(...)` expression — a lambda body referencing an expression
    * re-evaluates it per element (O(L²) re-split per doc). Partial on
    * short inputs (`sequence(0, negative)` descends into a slice(0)
    * error), so callers pre-filter `size >= n`. */
  def ngramsFromTokensHof(toks: Column, n: Int): Column =
    transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))

  private val docs = Seq(
    (1L, "srcA", "a a a b c"),          // top word a×3/5, top bigram "a a"×2/4
    (2L, "srcA", "x y"),                // all distinct
    (3L, "srcB", "q"),                  // single word → no bigrams
  ).toDF("doc_id", "source", "text")

  test("repetitionSignals computes distinct/top-word/top-bigram shares") {
    val out = Curation.repetitionSignals(docs, Seq("doc_id"), "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Int]("n_words") == 5)
    assert(r1.getAs[Double]("distinct_word_frac") == 3.0 / 5.0)
    assert(r1.getAs[Double]("top_word_share") == 3.0 / 5.0)
    assert(r1.getAs[Double]("top_bigram_share") == 2.0 / 4.0)
    assert(r1.getAs[Double]("mean_word_len") == 1.0)
    assert(out(2L).getAs[Double]("top_word_share") == 0.5)
    assert(out(3L).isNullAt(out(3L).fieldIndex("top_bigram_share")))
  }

  test("stratifiedSample keeps ceil(frac*n) rows per stratum, deterministically") {
    val df = (1L to 100L).map(i => (i, if (i <= 80) "big" else "small"))
      .toDF("doc_id", "source")
    val s1 = Curation.stratifiedSample(df, Seq("source"), "doc_id", 0.1)
    val s2 = Curation.stratifiedSample(df.repartition(7), Seq("source"), "doc_id", 0.1)
    val by = s1.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by("big") == 8L && by("small") == 2L)
    // same rows regardless of input partitioning
    assert(s1.collect().map(_.getLong(0)).toSet == s2.collect().map(_.getLong(0)).toSet)
  }

  test("domainTopK returns k best rows per domain with rank") {
    val df = Seq(("d1", 1L, 10), ("d1", 2L, 30), ("d1", 3L, 20), ("d2", 4L, 5))
      .toDF("source", "doc_id", "score")
    val out = Curation.domainTopK(df, "source", "score", "doc_id", k = 2)
      .collect().map(r => (r.getString(0), r.getAs[Int]("rank")) -> r.getLong(1)).toMap
    assert(out(("d1", 1)) == 2L && out(("d1", 2)) == 3L && out(("d2", 1)) == 4L)
  }

  test("ngramTopK ranks corpus bigrams by frequency with deterministic ties") {
    val df = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    val out = Curation.ngramTopK(df, "text", n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // "a b"×3, then ties "b a","b c","b x" → alphabetical
    assert(out.head == (("a b", 3L, 1)))
    assert(out(1) == (("b a", 1L, 2)) && out(2) == (("b c", 1L, 3)))
  }

  test("decontaminate flags train docs sharing an n-gram with the benchmark") {
    val train = Seq((1L, "p q r s t u"), (2L, "x y z w v k")).toDF("doc_id", "text")
    val bench = Seq((9L, "a p q r s t b")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "p q r s t" (and no other distinct 5-gram); doc 2 clean
    assert(out == Map(1L -> 1L))
  }

  test("decontaminateBloom matches the exact join and keeps the probe in the plan") {
    // enough docs that shared and unshared grams both occur
    val train = (1L to 40L).map(i => (i, s"w$i x$i p q r s t u${i % 7}"))
      .toDF("doc_id", "text")
    val bench = (0L until 7L).map(i => (100 + i, s"p q r s t u$i tail$i y z"))
      .toDF("doc_id", "text")
    val exact = Curation.decontaminate(train, bench, "doc_id", "text", n = 5)
    val bloom = Curation.decontaminateBloom(train, bench, "doc_id", "text", n = 5)
    assert(bloom.collect().toSeq == exact.collect().toSeq)
    // the prefilter must actually be in the executed plan
    assert(bloom.queryExecution.executedPlan.toString.contains("might_contain"))
  }

  test("decontaminateBloom on an empty bench side returns no rows, schema intact") {
    val train = Seq((1L, "p q r s t")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Curation.decontaminateBloom(train, bench, "doc_id", "text", n = 5)
    assert(out.columns.toSeq == Seq("doc_id", "n_shared_ngrams"))
    assert(out.count() == 0)
  }

  test("decontaminateBloom survives a tiny over-filled filter (false positives re-verified)") {
    // 2 bits per expected item → high FP rate; exactness must hold anyway
    val train = (1L to 30L).map(i => (i, s"a$i b$i c$i d$i e$i shared v w x y"))
      .toDF("doc_id", "text")
    val bench = Seq((99L, "shared v w x y k")).toDF("doc_id", "text")
    val exact = Curation.decontaminate(train, bench, "doc_id", "text", n = 5)
    val bloom = Curation.decontaminateBloom(
      train, bench, "doc_id", "text", n = 5, expectedGrams = 4, numBits = 64)
    assert(bloom.collect().toSeq == exact.collect().toSeq)
  }

  test("piiScrub counts and redacts each pattern; clean text is untouched") {
    val pats = Seq(
      ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      ("ips", "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b", "<IP>"))
    val df = Seq(
      (1L, "mail a@b.com and c.d@e.org from 10.0.0.1"),
      (2L, "nothing to hide here"),
      (3L, "ip 192.168.1.255 twice 192.168.1.255")
    ).toDF("doc_id", "text")
    val out = Curation.piiScrub(df, "doc_id", "text", pats)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("n_emails") == 2)
    assert(out(1L).getAs[Int]("n_ips") == 1)
    assert(out(1L).getAs[String]("scrubbed") == "mail <EMAIL> and <EMAIL> from <IP>")
    assert(out(2L).getAs[Int]("n_emails") == 0)
    assert(out(2L).getAs[String]("scrubbed") == "nothing to hide here")
    assert(out(3L).getAs[Int]("n_ips") == 2)
    assert(out(3L).getAs[String]("scrubbed") == "ip <IP> twice <IP>")
  }

  test("piiScrubFused matches the sequential scrub wherever matches are disjoint") {
    val pats = Seq(
      ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      ("phones", "\\b555-[0-9]{4}\\b", "<PHONE>"),
      ("ips", "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b", "<IP>"))
    val df = Seq(
      (1L, "mail a@b.com and c.d@e.org from 10.0.0.1"),
      (2L, "nothing to hide here"),
      (3L, "ip 192.168.1.255 twice 192.168.1.255 call 555-0001"),
      (4L, "reach 555-1234@example.com today"), // phone INSIDE email: email wins in both forms
      (5L, "")
    ).toDF("doc_id", "text")
    val seqRows = Curation.piiScrub(df, "doc_id", "text", pats).collect().toSeq
    val fusedRows = Curation.piiScrubFused(df, "doc_id", "text", pats).collect().toSeq
    assert(fusedRows == seqRows)
  }

  test("piiScrubFused redacts in position order when patterns truly overlap") {
    // sequential gives pattern 1 priority: 'bcd' fires first, killing
    // 'abc'; the one-pass alternation is leftmost-first, so the match
    // starting earlier ('abc', pos 0) wins regardless of listing order —
    // the documented divergence between the two forms
    val pats = Seq(("p1", "bcd", "<1>"), ("p2", "abc", "<2>"))
    val df = Seq((1L, "abcd")).toDF("doc_id", "text")
    val s = Curation.piiScrub(df, "doc_id", "text", pats).head()
    assert((s.getInt(1), s.getInt(2), s.getString(3)) == ((1, 0, "a<1>")))
    val f = Curation.piiScrubFused(df, "doc_id", "text", pats).head()
    assert((f.getInt(1), f.getInt(2), f.getString(3)) == ((0, 1, "<2>d")))
  }

  test("piiScrubFused counts branches through patterns carrying their own groups") {
    // the IP pattern has an inner group; branch attribution must skip it
    val pats = Seq(
      ("ips", "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b", "<IP>"),
      ("phones", "\\b555-[0-9]{4}\\b", "<PHONE>"))
    val r = Curation.piiScrubFused(
      Seq((1L, "x 10.0.0.1 call 555-9999 y")).toDF("doc_id", "text"),
      "doc_id", "text", pats).head()
    assert((r.getInt(1), r.getInt(2), r.getString(3)) ==
      ((1, 1, "x <IP> call <PHONE> y")))
  }

  test("piiScrubFused rejects a pattern matching the empty string") {
    val err = intercept[Exception] {
      Curation.piiScrubFused(
        Seq((1L, "a")).toDF("doc_id", "text"),
        "doc_id", "text", Seq(("bad", "x*", "<X>"))).collect()
    }
    assert(err.getMessage.contains("empty string") ||
      Option(err.getCause).exists(_.getMessage.contains("empty string")))
  }

  test("qualityFilter keeps docs passing every Gopher threshold") {
    val df = Seq(
      (1L, (1 to 40).map(i => s"w$i").mkString(" ")),       // diverse, long → keep
      (2L, "short doc"),                                     // too few words
      (3L, Seq.fill(40)("spam").mkString(" ")),              // one dominating word
      (4L, ((1 to 20).map(i => s"w$i") ++ Seq.fill(20)("x")).mkString(" ")) // low diversity + hot word
    ).toDF("doc_id", "text")
    val kept = Curation.qualityFilter(df, "doc_id", "text",
      minWords = 30, minDistinctFrac = 0.35, maxTopShare = 0.12)
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
  }

  test("tokenBudgetMix cuts each source at its budget, boundary doc included") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val df = (1L to 50L).map(i => (if (i <= 40) "big" else "small", i, 10L))
      .toDF("source", "doc_id", "toks")
    val budget = when(col("source") === "big", lit(95L)).otherwise(lit(10000L))
    val rows = Curation.tokenBudgetMix(df, "source", "doc_id", col("toks"), budget)
      .collect()
    val bysrc = rows.groupBy(_.getString(0))
    // 95-token budget over 10-token docs: 9 fit fully, the 10th doc
    // starts at tokens_before=90 < 95 → included (boundary rule)
    assert(bysrc("big").length == 10)
    assert(bysrc("small").length == 10) // roomy budget keeps all
    // reshuffle-stable: same kept set from a different partitioning
    val out2 = Curation.tokenBudgetMix(
      df.repartition(7), "source", "doc_id", col("toks"), budget)
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet ==
      out2.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("sourceUpsample emits floor(w) epochs plus a deterministic fractional extra") {
    val df = (1L to 200L).map(i => ("hot", i)).toDF("source", "doc_id")
    val outRows = Curation.sourceUpsample(df, "source", "doc_id", Map("hot" -> 2.5))
      .collect()
    val byDoc = outRows.groupBy(_.getLong(1)).view.mapValues(_.length).toMap
    // every doc appears 2 or 3 times; epochs are 1..copies
    assert(byDoc.values.forall(c => c == 2 || c == 3))
    // the fractional extra lands near half the docs (md5-uniform)
    val extras = byDoc.values.count(_ == 3)
    assert(extras > 60 && extras < 140, s"extras=$extras")
    // weight 0 drops the source; default weight keeps one epoch
    val mixed = Seq(("drop", 1L), ("keep", 2L)).toDF("source", "doc_id")
    val got = Curation.sourceUpsample(mixed, "source", "doc_id", Map("drop" -> 0.0))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("keep", 2L, 1L)))
    // reshuffle-stable
    val again = Curation.sourceUpsample(
      df.repartition(7), "source", "doc_id", Map("hot" -> 2.5))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(again == outRows.map(r => (r.getLong(1), r.getLong(2))).toSet)
    // a fraction one ulp under 1.0 rounds to exactly 2^32 — without
    // the clamp the threshold becomes the NINE-digit "100000000",
    // lexicographically tiny vs an 8-digit md5 prefix, silently
    // dropping ~94% of a weight-0.999... source; with it, every doc
    // keeps its one epoch
    val near = Curation.sourceUpsample(
      df, "source", "doc_id", Map("hot" -> math.nextDown(1.0))).collect()
    assert(near.length == 200)
    assert(near.groupBy(_.getLong(1)).forall(_._2.length == 1))
    // non-finite / absurd weights fail fast with the operator's message
    intercept[IllegalArgumentException] {
      Curation.sourceUpsample(df, "source", "doc_id", Map("hot" -> Double.PositiveInfinity))
    }
  }

  test("piiScrub counts reconcile with markers when patterns overlap") {
    // the phone-shaped substring lives INSIDE the email local part:
    // the email pattern consumes it first, so n_phones must be 0 and
    // no <PHONE> marker may appear (counting on the original text
    // would report a phone that was never redacted)
    val pats = Seq(
      ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      ("phones", "\\b555-[0-9]{4}\\b", "<PHONE>"))
    val df = Seq((1L, "reach 555-1234@example.com today")).toDF("doc_id", "text")
    val r = Curation.piiScrub(df, "doc_id", "text", pats).head()
    assert(r.getAs[Int]("n_emails") == 1)
    assert(r.getAs[Int]("n_phones") == 0)
    assert(r.getAs[String]("scrubbed") == "reach <EMAIL> today")
  }

  test("tfidfTopTerms scores tf*N/df and keeps k per doc") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = Curation.tfidfTopTerms(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(5)) -> (r.getString(1), r.getDouble(4))).toMap
    // doc1: a tf=2 df=1 → 4.0 ; b tf=1 df=2 → 1.0
    assert(out((1L, 1)) == (("a", 4.0)))
    assert(out((1L, 2)) == (("b", 1.0)))
    // doc2: c tf=1 df=1 → 2.0 beats b → rank1 c
    assert(out((2L, 1)) == (("c", 2.0)))
  }

  test("chunkDocuments windows tokens with overlap and covers every token") {
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "a b"))
      .toDF("doc_id", "text")
    val out = Curation.chunkDocuments(df, "doc_id", "text", chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3))).toMap
    // stride 3: starts 0,3,6 cover t1..t10 (ceil((10-1)/3)=3 chunks)
    assert(out((1L, 0)) == (("t1 t2 t3 t4", 4)))
    assert(out((1L, 1)) == (("t4 t5 t6 t7", 4)))
    assert(out((1L, 2)) == (("t7 t8 t9 t10", 4)))
    assert(out((2L, 0)) == (("a b", 2))) // short doc → one partial chunk
    assert(out.size == 4)
  }

  test("packSequences opens a bin when the running total crosses the budget") {
    val df = Seq(("s", 1L, 100L), ("s", 2L, 100L), ("s", 3L, 100L), ("s", 4L, 50L))
      .toDF("source", "doc_id", "sz")
    // before-sums: 0,100,200,300 → bins 0,0,1,1 at budget 200
    val out = Curation.packSequences(df, "source", "doc_id", col("sz"), 200L)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == ((2L, 200L)))
    assert(out(1L) == ((2L, 150L)))
  }

  test("assignSplits is exhaustive, repartition-stable and near the weights") {
    val df = spark.range(0, 5000).toDF("doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Curation.assignSplits(df, "doc_id", splits)
    val counts = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 5000L)
    assert(counts.keySet == Set("train", "val", "test"))
    // md5 prefix is uniform: binomial 3-sigma bands at n=5000
    assert(math.abs(counts("train") - 4000L) < 3 * math.sqrt(5000 * 0.8 * 0.2))
    assert(math.abs(counts("val") - 500L) < 3 * math.sqrt(5000 * 0.1 * 0.9))
    // the assignment is a pure row function: repartitioning cannot move rows
    val a = out.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    val b = Curation.assignSplits(df.repartition(13), "doc_id", splits)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.sameElements(b))
    // invalid weights fail loudly
    intercept[IllegalArgumentException](
      Curation.assignSplits(df, "doc_id", Seq("a" -> 0.5, "b" -> 0.4)))
  }

  test("repetitionSignals native stats are bit-equal to the HOF column algebra") {
    val edge = Seq((100L, "solo"), (101L, "a a a a"), (102L, "x y x y x"))
      .toDF("doc_id", "text")
    for (d <- Seq(Tables.documents(spark, "/root/testdata/sf0.001"), edge)) {
      val native = Curation.repetitionSignals(d, Seq("doc_id"), "text").collect()
      val hof = repetitionSignalsHof(d, Seq("doc_id"), "text").collect()
      assert(native.length == hof.length)
      native.zip(hof).foreach { case (a, b) =>
        assert(a.getLong(0) == b.getLong(0) || a.get(0) == b.get(0))
        for (i <- 1 until a.length) {
          val (x, y) = (a.get(i), b.get(i))
          (x, y) match {
            case (null, null) => ()
            case (dx: Double, dy: Double) =>
              assert(java.lang.Double.doubleToLongBits(dx) ==
                java.lang.Double.doubleToLongBits(dy), s"col $i: $dx vs $dy")
            case _ => assert(x == y, s"col $i: $x vs $y")
          }
        }
      }
    }
  }

  test("native string_ngrams is bit-equal to the HOF form and total on short docs") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("__toks", split(col("text"), " "))
      .where(size(col("__toks")) >= 3)
    val rows = d.select(
      graft.functions.HashFunctions.string_ngrams(col("__toks"), 3).as("native"),
      ngramsFromTokensHof(col("__toks"), 3).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // short input: native yields an empty array instead of erroring
    val short = Seq(Tuple1(Seq("only", "two"))).toDF("toks")
      .select(graft.functions.HashFunctions.string_ngrams(col("toks"), 3)).head
    assert(short.getSeq[String](0).isEmpty)
  }

  test("fuzzyDecontaminate flags near-copies of benchmark docs with the best match") {
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta CHANGED"), // near-copy of 1
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),         // exact copy of 1
      (12L, "completely unrelated text about spark catalyst rules"),
      (13L, "short doc")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "some other benchmark question entirely different words here")
    ).toDF("doc_id", "text")
    val out = Curation.fuzzyDecontaminate(train, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(11L) == ((1L, 1.0)))           // exact copy: jaccard 1 vs bench 1
    assert(out.contains(10L) && out(10L)._1 == 1L && out(10L)._2 >= 0.5)
    assert(!out.contains(12L) && !out.contains(13L))
  }

  test("fuzzyDecontaminate tie-breaks equal-jaccard matches to the min bench id") {
    val train = Seq((10L, "a b c d e f g h")).toDF("doc_id", "text")
    val bench = Seq(
      (5L, "a b c d e f g h"),
      (3L, "a b c d e f g h")).toDF("doc_id", "text")
    val out = Curation.fuzzyDecontaminate(train, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((10L, 3L, 1.0)))
  }

  test("termFilter: exact tokens only, distinct hit counts, alphabetical attribution") {
    val docs = Seq(
      (1L, "clean words only here"),
      (2L, "bad bad bad word"),            // hot term counts ONCE
      (3L, "worse and bad together"),      // two distinct hits
      (4L, "badge is not bad-ge or bad2")) // substrings must NOT match
      .toDF("doc_id", "text")
    val terms = Seq("bad", "worse").toDF("term")
    val got = Curation.termFilter(docs, "doc_id", "text", terms)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        if (r.isNullAt(3)) "" else r.getString(3)))
    assert(got.toSeq === Seq(
      (1L, false, 0L, ""),
      (2L, true, 1L, "bad"),
      (3L, true, 2L, "bad"),
      (4L, false, 0L, "")))
  }

  test("shardShuffle: two-level prefix sum equals the single-order running sum") {
    val df = (0L until 500L).map(i => (i, s"doc $i " + ("w " * (i % 37).toInt).trim))
      .toDF("doc_id", "text")
    val sz = size(split(col("text"), " ")).cast("long")
    val got = Curation.shardShuffle(df, "doc_id", sz, budget = 100L, seed = 7L, buckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // driver-side replay: one global order by (key, id)
    val rows = got.map { case (id, n, _, _) => (id, n) }
    val key = (id: Long) =>
      (Math.floorMod(id + 7L, 2147483648L) * 2654435761L) % 2147483648L
    var cum = 0L
    val expect = rows.sortBy { case (id, _) => (key(id), id) }.map { case (id, n) =>
      val off = cum; cum += n
      (id, n, off, off / 100L)
    }.sortBy(_._1)
    assert(got.sortBy(_._1).toSeq === expect.toSeq)
    // offsets tile the token stream exactly: max offset + its tokens = total
    val total = rows.map(_._2).sum
    assert(got.map(t => t._3 + t._2).max === total)
  }

  test("shardShuffle: seeded key is int64-exact past the unreduced overflow point") {
    // |id + seed| > ~3.47e9 overflows the UNREDUCED (id+seed)*2654435761
    // form; the pre-multiply mod-2^31 reduction must keep these exact
    val ids = Seq(3500000000L, 5000000000L, 9000000000000L, Long.MaxValue - 7L)
    val df = ids.map(i => (i, "a b c")).toDF("doc_id", "text")
    val got = Curation.shardShuffle(df, "doc_id", lit(3L), budget = 4L, seed = 7L, buckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val key = (id: Long) =>
      (Math.floorMod(id + 7L, 2147483648L) * 2654435761L) % 2147483648L
    var cum = 0L
    val expect = ids.sortBy(i => (key(i), i)).map { i =>
      val o = cum; cum += 3L; (i, o)
    }.sortBy(_._1)
    assert(got.sortBy(_._1).toSeq === expect)
  }

  test("shardShuffle is invariant under input partitioning and bucket count") {
    val df = (0L until 300L).map(i => (i, ("x " * (i % 11 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val sz = size(split(col("text"), " ")).cast("long")
    def run(d: org.apache.spark.sql.DataFrame, buckets: Int) =
      Curation.shardShuffle(d, "doc_id", sz, budget = 64L, seed = 3L, buckets = buckets)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val a = run(df.repartition(1), 8)
    val b = run(df.repartition(13), 64)
    assert(a === b && a.nonEmpty)
  }
}
