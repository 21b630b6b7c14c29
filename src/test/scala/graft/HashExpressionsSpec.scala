package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions
import graft.operators.{Classifier, Dedup}

class HashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // parquet-backed so plans run through codegen, not constant folding
  private def docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)

  /** Pure-functions MinHash signature (bit-equal reference implementation
    * of the native [[graft.functions.MinHashSignature]]; see
    * Dedup.minhashSignature). */
  def minhashSignatureHof(sh: Column, numHashes: Int): Column =
    aggregate(transform(sh, s => xxhash64(s)), array_repeat(lit(Long.MaxValue), numHashes),
      (acc, hs) => zip_with(
        acc,
        transform(sequence(lit(0), lit(numHashes - 1)), h => xxhash64(hs, h)),
        (a, b) => least(a, b)))

  /** Pure-functions SimHash (bit-equal reference implementation of the
    * native [[graft.functions.SimHash64]]; see Dedup.minhashSignature). */
  def simhashHof(text: Column): Column = {
    val toks = split(text, " ")
    // One fold over the tokens (64 parities per token, elementwise
    // vote-sum) — NOT a transform over bit ids, which would re-split
    // the text once per bit. Token bytes hash once; per-bit parities
    // chain a cheap long-hash (same trick as minhashSignature).
    val votes = aggregate(transform(toks, t => xxhash64(t)), array_repeat(lit(0L), 64),
      (acc, ht) => zip_with(
        acc,
        transform(sequence(lit(0), lit(63)), b =>
          xxhash64(ht, b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)),
        (a, v) => a + v))
    aggregate(votes, lit(0L), (acc, v) =>
      // shiftleft (not acc*2): the sign-bit step must wrap, and ANSI
      // mode turns a long-multiply wrap into ARITHMETIC_OVERFLOW.
      shiftleft(acc, 1).bitwiseOR(when(v > 0, lit(1L)).otherwise(lit(0L))))
  }

  /** Pure-functions md5 SimHash as two 32-bit halves (hi = bits
    * 63..32, lo = 31..0) — the reference implementation of the native
    * [[graft.functions.SimHashMd5]] (bit-equal, asserted below).
    * One fold over the token array, one md5 per
    * token, all shifts static. */
  def simhashMd5HiLo(text: Column): Column = {
    val toks = split(text, " ")
    // one md5 per token (hex chars 17..32 = digest bytes 8..15); the
    // byte split reads the hex STRING so the digest is never recomputed
    val hexes = transform(toks, t => substring(md5(t.cast("binary")), 17, 16))
    val tokBytes = transform(hexes, h =>
      transform(sequence(lit(0), lit(7)), j =>
        conv(h.substr(j * 2 + lit(1), lit(2)), 16, 10).cast("int")))
    // fold: 64 votes, bit b = bit (b%8) of byte (b/8) — ±1 per token
    val votes = aggregate(
      tokBytes, array_repeat(lit(0), 64),
      (acc, tb) => zip_with(
        acc,
        array((0 until 64).map { b =>
          shiftright(element_at(tb, b / 8 + 1), b % 8).bitwiseAND(lit(1)) * 2 - 1
        }: _*),
        (a, v) => a + v))
    def half(lowBit: Int): Column =
      (0 until 32).map { k =>
        when(element_at(votes, lowBit + k + 1) > 0, lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _)
    struct(half(32).as("hi"), half(0).as("lo"))
  }

  /** Sort + longest-run fold: the bit-equal reference of the native
    * [[graft.functions.MaxMultiplicity]]. */
  def maxMultiplicityHof(arr: Column): Column =
    aggregate(
      sort_array(arr),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("mx")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))

  /** The pure-column-algebra formulation of the feature array fused in
    * Classifier.featureFrame — the bit-equal reference this spec (and
    * the DuckDB oracle's SQL) mirror. */
  def wordBucketsHof(textCol: Column, buckets: Int): Column =
    concat(
      array_distinct(transform(
        split(textCol, " "), t => Classifier.tokenBucket(t, buckets))),
      array(lit(buckets)))

  /** Σ_{b ∈ barr} w_b as a HOF fold: the bit-equal reference of the
    * native [[graft.functions.BucketMargin]]. */
  def marginColHof(barr: Column, w: Array[Long]): Column =
    aggregate(barr, lit(0L),
      (acc, b) => acc + element_at(typedlit(w.toSeq), b + lit(1)))

  /** The pure-column-algebra formulation of Classifier.charGramBuckets,
    * the bit-equal reference this spec (and the DuckDB oracle's SQL)
    * mirror — the fused kernel must match it window for window,
    * including first-occurrence distinct order. */
  def charGramBucketsHof(
      textCol: Column, buckets: Int, n: Int): Column =
    concat(
      array_distinct(transform(
        when(length(textCol) >= n, sequence(lit(1), length(textCol) - (n - 1)))
          .otherwise(typedlit(Seq.empty[Int])),
        i => Classifier.tokenBucket(textCol.substr(i, lit(n)), buckets))),
      array(lit(buckets)))

  /** md5-derived feature bucket — identical in any engine with md5. */
  def hashedBucket(gram: Column, buckets: Int): Column =
    (conv(substring(md5(gram), 1, 8), 16, 10).cast("long") % buckets).cast("int")

  test("native minhash_sig is bit-equal to the HOF reference formulation") {
    val sh = Dedup.shingles(col("text"), 3)
    val rows = docs
      .where(size(split(col("text"), " ")) >= 3)
      .select(
        HashFunctions.minhash_sig(array_distinct(sh), 64).as("native"),
        minhashSignatureHof(array_distinct(sh), 64).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("native simhash64 is bit-equal to the HOF reference formulation") {
    val rows = docs.select(
      Dedup.simhash(col("text")).as("native"),
      simhashHof(col("text")).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native simhash_md5 is bit-equal to the HOF hi/lo reference formulation") {
    val rows = docs.select(
      HashFunctions.simhash_md5(split(col("text"), " ")).as("native"),
      simhashMd5HiLo(col("text")).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val native = r.getLong(0)
      val hof = r.getStruct(1)
      assert((native >>> 32) == hof.getLong(0), "hi half")
      assert((native & 0xFFFFFFFFL) == hof.getLong(1), "lo half")
    }
  }

  test("native max_multiplicity equals the HOF reference formulation") {
    val rows = docs.select(
      HashFunctions.max_multiplicity(split(col("text"), " ")).as("native"),
      maxMultiplicityHof(split(col("text"), " ")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // empty + null-element edges, through the SQL registry
    graft.functions.GraftFunctions.register(spark)
    val er = spark.sql(
      "SELECT max_multiplicity(CAST(array() AS array<string>)) AS e," +
        " max_multiplicity(array('a', NULL, 'a')) AS n").head()
    assert(er.getInt(0) == 0 && er.getInt(1) == 2)
  }

  test("minhash_sig handles empty arrays (all-MaxValue signature)") {
    val r = docs.select(
      HashFunctions.minhash_sig(array().cast("array<string>"), 8)).head()
    assert(r.getSeq[Long](0).forall(_ == Long.MaxValue))
  }

  test("null array elements are filter-parity skipped across the sketch family") {
    // array with a null token vs the same array pre-filtered — every
    // sketch must agree (the RepetitionStats filter-adjacency
    // convention; previously the interpreted paths could NPE)
    val df = Seq(1).toDF("i").select(
      array(lit("a"), lit(null).cast("string"), lit("b"), lit("c")).as("withNull"),
      array(lit("a"), lit("b"), lit("c")).as("clean"))
    val r = df.select(
      HashFunctions.minhash_sig(col("withNull"), 16).as("m1"),
      HashFunctions.minhash_sig(col("clean"), 16).as("m2"),
      HashFunctions.simhash64(col("withNull")).as("s1"),
      HashFunctions.simhash64(col("clean")).as("s2"),
      HashFunctions.simhash_md5(col("withNull")).as("d1"),
      HashFunctions.simhash_md5(col("clean")).as("d2"),
      HashFunctions.shingle_hashes(col("withNull"), 2).as("g1"),
      HashFunctions.shingle_hashes(col("clean"), 2).as("g2")).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.getLong(2) == r.getLong(3))
    assert(r.getLong(4) == r.getLong(5))
    assert(r.getSeq[Long](6) == r.getSeq[Long](7))
    // string_ngrams compacts too: every gram has exactly n tokens
    val s = df.select(
      HashFunctions.string_ngrams(col("withNull"), 2).as("g1"),
      HashFunctions.string_ngrams(col("clean"), 2).as("g2")).head()
    assert(s.getSeq[String](0) == s.getSeq[String](1))
    assert(s.getSeq[String](0) == Seq("a b", "b c"))
  }

  test("cosine_sim treats null elements as 0.0 in both eval paths") {
    val df = Seq(1).toDF("i").select(
      array(lit(3.0), lit(null).cast("double")).as("a"),
      array(lit(3.0), lit(4.0)).as("b"))
    val got = df.select(
      graft.functions.GraftFunctions.cosine_sim(col("a"), col("b")).as("c")).head().getDouble(0)
    // a ~ (3,0): dot=9, |a|=3, |b|=5 → 0.6
    assert(got == 9.0 / (3.0 * 5.0))
  }

  test("ring crossings fail loudly on a null vertex coordinate") {
    val df = Seq(1).toDF("i").select(
      array(lit(0.0), lit(null).cast("double"), lit(1.0)).as("xs"),
      array(lit(0.0), lit(1.0), lit(0.0)).as("ys"))
    val ex = intercept[Exception] {
      df.select(graft.functions.GraftFunctions.ray_cast_crossings(
        lit(0.5), lit(0.25), col("xs"), col("ys")).as("c")).collect()
    }
    // the INTENDED guard, not an incidental codegen/analysis failure
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("ring_crossings: null vertex")))
  }

  test("heavy_hitters is exact below capacity and matches groupBy counts") {
    val rows = (0 until 300).map { i =>
      Tuple1(Seq(s"t${i % 23}", s"t${i % 7}", "common"))
    }
    val df = rows.toDF("toks").repartition(9)
    val sketch = df.agg(HashFunctions.heavy_hitters(col("toks"), 64).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.select(explode(col("toks")).as("t"))
      .groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch == exact)
  }

  test("heavy_hitters keeps true heavy hitters under forced eviction") {
    // one heavy term (400 of N=600) vs 200 singleton noise terms, far
    // over capacity 16; repartition forces partial-sketch merges.
    // MG bound: est in [true - N/capacity, true] and any term with
    // true > N/capacity must be present.
    val rows =
      (0 until 400).map(_ => Tuple1(Seq("hh"))) ++
        (0 until 200).map(i => Tuple1(Seq(s"noise$i")))
    val df = rows.toDF("toks").repartition(7)
    val out = df.agg(HashFunctions.heavy_hitters(col("toks"), 16).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size <= 16)
    assert(out.contains("hh"), s"heavy hitter evicted: $out")
    assert(out("hh") <= 400L && out("hh") >= 400L - 600L / 16 - 1)
  }

  test("ngramTopKSketch agrees with the exact ngramTopK below capacity") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val sk = graft.operators.Curation.ngramTopKSketch(d, "text", 2, 50, 4096)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val ex = graft.operators.Curation.ngramTopK(d, "text", 2, 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(sk == ex)
  }

  test("ngramTopKSketchAuto re-sizes past a too-small floor and stays exact") {
    // 600 distinct bigrams ("w<i> w<i+1>"), each with multiplicity i%7+1
    // — a fixed minCapacity of 64 would leave the exact regime (the sf1
    // clone did exactly this to the old fixed 4096); the auto pre-pass
    // must size past the vocabulary and reproduce the exact ranking.
    import spark.implicits._
    val docs = (0 until 600)
      .flatMap(i => Seq.fill(i % 7 + 1)(s"w$i w${i + 1}")).toDF("text")
    val sk = graft.operators.Curation
      .ngramTopKSketchAuto(docs, "text", 2, 80, minCapacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val ex = graft.operators.Curation.ngramTopK(docs, "text", 2, 80)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(sk == ex)
  }

  test("native char_gram_buckets is bit-equal to the HOF algebra") {
    // real corpus rows + the edge shapes: empty, shorter-than-n,
    // multibyte (code-point windows), repeated grams (distinct order),
    // and null text (intercept-only)
    val edge = Seq("", "ab", "abc", "ααβγδ", "xyxyxyxy", null, "漢字漢字テスト")
      .toDF("text")
    for (df <- Seq(Tables.documents(spark, "/root/testdata/sf0.001")
           .limit(80).select(col("text")), edge);
         (b, n) <- Seq((1024, 3), (64, 2), (256, 5))) {
      val got = df.select(
        graft.operators.Classifier.charGramBuckets(col("text"), b, n).as("k"),
        charGramBucketsHof(col("text"), b, n).as("ref"))
        .collect()
      assert(got.nonEmpty)
      got.foreach(r => assert(r.getSeq[Int](0) === r.getSeq[Int](1)))
    }
  }

  test("native word_token_buckets is bit-equal to the HOF algebra") {
    // split-on-space edge shapes the fused kernel must reproduce:
    // consecutive/leading/trailing spaces (empty tokens), empty text
    // (one empty token), null (null), multibyte tokens
    val edge = Seq("", " ", "a  b", " lead", "trail ", "ein zwei", null,
      "漢字 テスト 漢字").toDF("text")
    for (df <- Seq(Tables.documents(spark, "/root/testdata/sf0.001")
           .limit(80).select(col("text")), edge);
         b <- Seq(64, 1024)) {
      val got = df.select(
        graft.functions.CharGramBuckets.word_token_buckets(col("text"), b).as("k"),
        wordBucketsHof(col("text"), b).as("ref"))
        .collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        if (r.isNullAt(1)) assert(r.isNullAt(0))
        else assert(r.getSeq[Int](0) === r.getSeq[Int](1))
      }
    }
  }

  test("native ngram_buckets is bit-equal to the string_ngrams chain") {
    val edge = Seq("", " ", "a", "a b", "a  b", " lead b", "trail b ",
      null, "漢字 テスト 漢字 x").toDF("text")
    for (df <- Seq(Tables.documents(spark, "/root/testdata/sf0.001")
           .limit(80).select(col("text")), edge);
         (b, n) <- Seq((64, 2), (1024, 3))) {
      val ref = transform(
        graft.functions.HashFunctions.string_ngrams(split(col("text"), " "), n),
        g => hashedBucket(g, b))
      val got = df.select(
        graft.functions.CharGramBuckets.ngram_buckets(col("text"), b, n).as("k"),
        ref.as("ref")).collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        if (r.isNullAt(1)) assert(r.isNullAt(0))
        else assert(r.getSeq[Int](0) === r.getSeq[Int](1))
      }
    }
  }

  test("native span_window_hashes is bit-equal to the string_ngrams+xxhash chain") {
    val edge = Seq("", "a", "a b", "a b c d e", "a  b  c", " x y ",
      "漢字 テスト x y", "same same same same").toDF("text")
    for (df <- Seq(Tables.documents(spark, "/root/testdata/sf0.001")
           .limit(80).select(col("text")), edge);
         n <- Seq(2, 3, 8)) {
      val toks = split(col("text"), " ")
      val ref = transform(HashFunctions.string_ngrams(toks, n),
        s => struct(xxhash64(s).as("h1"), xxhash64(s, lit(1)).as("h2")))
      val got = df.select(
        graft.functions.SpanWindowHashes.span_window_hashes(toks, n).as("k"),
        ref.as("ref")).collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        val k = r.getSeq[Row](0).map(x => (x.getLong(0), x.getLong(1)))
        val ref2 = r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1)))
        assert(k === ref2)
      }
    }
  }

  test("native bucket_margin is bit-equal to the HOF fold and loud on corruption") {
    val w = Array.tabulate(65)(i => (i * 7919L - 250000L))
    val feat = docs.select(col("doc_id"),
      concat(array_distinct(transform(split(col("text"), " "),
        t => graft.operators.Classifier.tokenBucket(t, 64))),
        array(lit(64))).as("barr"))
    val got = feat.select(col("doc_id"),
        HashFunctions.bucket_margin(col("barr"), w).as("m"),
        marginColHof(col("barr"), w).as("ref"))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(1) === r.getLong(2)))
    // an out-of-range bucket is corruption, not a zero weight
    val ex = intercept[Exception] {
      Seq(Seq(3, 99)).toDF("barr")
        .select(HashFunctions.bucket_margin(col("barr"), Array(1L, 2L, 3L, 4L)))
        .collect()
    }
    assert(ex.getMessage.contains("bucket_margin") ||
      Option(ex.getCause).exists(_.getMessage.contains("bucket_margin")))
  }
}
