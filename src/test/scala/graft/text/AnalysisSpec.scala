package graft.text

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AnalysisSpec extends SparkSpec {

  private lazy val corpus: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (0L, "the cat and the dog is not a friend of the bird"),
      (1L, "der hund und die katze ist nicht ein freund"),
      (2L, "le chien et la souris est un ami avec les chats"),
      (3L, "xyzzy plugh quux frobnicate"),
      (4L, "el perro y la casa es un amigo con los gatos")
    ).toDF("doc_id", "text")
  }

  test("langId picks the language with most marker hits; und on none") {
    val got = Analysis.langId(corpus)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(0L) === ("en", 8L)) // the×3 and is not a of
    assert(got(1L)._1 === "de")
    assert(got(2L)._1 === "fr")
    assert(got(3L) === ("und", 0L))
    assert(got(4L)._1 === "es")
  }

  test("quality features match hand computation") {
    val s = spark; import s.implicits._
    val one = Seq((0L, "the the cat sat")).toDF("doc_id", "text")
    val r = Analysis.quality(one).collect().head
    assert(r.getAs[Long]("n_chars") === 15L)
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Long]("n_distinct") === 3L)
    assert(r.getAs[Double]("stopword_ratio") === 0.5) // the, the
    assert(r.getAs[Double]("mean_token_len") === 3.0)
    assert(r.getAs[Double]("type_token_ratio") === 0.75)
    // 0.4*min(1, 4/100) + 0.3*(1-0.5) + 0.3*0.75
    assert(r.getAs[Double]("quality_score") === 0.4 * 0.04 + 0.3 * 0.5 + 0.3 * 0.75)
  }

  test("token stats: regex splits punctuation that whitespace misses") {
    val s = spark; import s.implicits._
    val one = Seq((0L, "hello, world! x2")).toDF("doc_id", "text")
    val r = Analysis.tokenStats(one).collect().head
    assert(r.getAs[Long]("ws_tokens") === 3L)
    // hello , world ! x 2  → 6 regex tokens
    assert(r.getAs[Long]("regex_tokens") === 6L)
    assert(r.getAs[Long]("est_bpe_tokens") === 4L) // ceil(16/4)
  }

  test("fingerprints: bow_fp is order-insensitive, winnow_fp locality-sensitive") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "epsilon delta gamma beta alpha"), // same bag, different order
      (2L, "alpha beta gamma delta zeta")    // 4/5 tokens shared
    ).toDF("doc_id", "text")
    val fp = Analysis.fingerprints(docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(fp(0L)._1 === fp(1L)._1, "bag-of-words fp ignores order")
    assert(fp(0L)._2 !== fp(1L)._2, "winnow fp is order-sensitive (shingles)")
    assert(fp(0L)._1 !== fp(2L)._1)
    // doc 0 and 2 share shingles "alpha beta gamma", "beta gamma delta" —
    // their winnow sketches must overlap in at least one 32-char md5 block
    val blocks = (s: String) => s.grouped(32).toSet
    assert((blocks(fp(0L)._2) intersect blocks(fp(2L)._2)).nonEmpty)
  }

  test("top bigrams rank per lang with deterministic ties") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (0L, "a b a b c d", "en"),   // bigrams: "a b"×2, "b a", "b c", "c d"
      (1L, "a b x y", "en"),       // +"a b", "b x", "x y"
      (2L, "p q p q", "de")        // "p q"×2, "q p"
    ).toDF("doc_id", "text", "lang")
    val got = Analysis.topBigrams(docs, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet
    // en: "a b" n=3 rank 1; tie at n=1 broken alphabetically → "b a" rank 2
    assert(got === Set(
      ("en", "a b", 3L, 1), ("en", "b a", 1L, 2),
      ("de", "p q", 2L, 1), ("de", "q p", 1L, 2)))
  }

  test("top bigrams: hashed candidate screen matches the naive string form") {
    val s = spark; import s.implicits._
    // Tie-heavy pseudo-random corpus: a small vocabulary forces many
    // bigrams to share counts, so the rank-by-count-only screen must
    // keep whole tie groups for the alphabetical row_number to pick
    // the right winners.
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "ab", "ba", "bb", "ca")
    val docs = (0L until 60L).map { i =>
      val n = 2 + rnd.nextInt(8)
      val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i, text, if (i % 3 == 0) "de" else "en")
    }.toDF("doc_id", "text", "lang")
    val got = Analysis.topBigrams(docs, k = 3)
      .select("lang", "bigram", "n", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val naive = docs
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(split(text, ' ')) - 1), " +
          "i -> concat(element_at(split(text, ' '), i), ' ', " +
          "element_at(split(text, ' '), i + 1)))")).as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(col("n").desc, col("bigram").asc)))
      .filter(col("rank") <= 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got === naive)
  }

  test("chunking: sliding windows cover the doc, short docs emit one chunk") {
    val s = spark; import s.implicits._
    val fifty = (1 to 50).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, fifty), (1L, "a b c")).toDF("doc_id", "text")
    val got = Analysis.chunk(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getString(4))).sortBy(t => (t._1, t._2))
    // 50 tokens, C=32, S=24 → starts 1 and 25; second chunk clipped to 26
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq ===
      Seq((0L, 0, 1, 32L), (0L, 1, 25, 26L), (1L, 0, 1, 3L)))
    assert(got(0)._5 === (1 to 32).map(i => s"w$i").mkString(" "))
    assert(got(1)._5 === (25 to 50).map(i => s"w$i").mkString(" "))
    assert(got(2)._5 === "a b c")
    // consecutive chunks overlap by C − S tokens
    assert(got(0)._5.split(" ").drop(24).toSeq ===
      got(1)._5.split(" ").take(8).toSeq)
  }

  test("chunking invariants hold for every doc length 1..40") {
    val s = spark; import s.implicits._
    // one doc per token count; tokens are their own 1-based index
    val docs = (1 to 40).map(len =>
      (len.toLong, (1 to len).map(_.toString).mkString(" "))).toDF("doc_id", "text")
    val chunks = Analysis.chunk(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getString(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    for (len <- 1 to 40) {
      val cs = chunks(len.toLong)
      // starts advance by exactly the stride from 1
      assert(cs.map(_._3).toSeq ==
        cs.indices.map(_ * Analysis.ChunkStride + 1), s"len=$len")
      // full coverage: every token index appears in some chunk
      val covered = cs.flatMap(c => c._3 until (c._3 + c._4.toInt)).toSet
      assert(covered == (1 to len).toSet, s"len=$len coverage hole")
      // no degenerate tail: every chunk contributes ≥1 NEW token
      val lastEnds = cs.map(c => c._3 + c._4.toInt - 1)
      assert(lastEnds.toSeq == lastEnds.toSeq.sorted.distinct, s"len=$len")
      // chunk text re-materializes exactly its token range
      cs.foreach { c =>
        assert(c._5 == (c._3 until (c._3 + c._4.toInt)).mkString(" "),
          s"len=$len chunk ${c._2}")
      }
    }
  }

  test("chunking plans no shuffle: map-side explode only") {
    val df = Analysis.chunk(spark.read.parquet(
      "/root/testdata/sf0.001/documents.parquet"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("top bigrams plan uses the WindowGroupLimit rewrite") {
    val df = Analysis.queries("text_top_bigrams")(spark, "/root/testdata/sf0.001")
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      df.queryExecution.executedPlan.toString.take(1500))
  }

  test("tfidf: scores and ranks match hand computation (linear idf)") {
    val s = spark; import s.implicits._
    // 4 docs; "cat" in 1, "dog" in 2, "the" in all 4
    val d = Seq(
      (0L, "the cat cat dog"),
      (1L, "the dog"),
      (2L, "the bird"),
      (3L, "the fish")
    ).toDF("doc_id", "text")
    val got = Analysis.tfidf(d, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("score"))).toMap
    // doc 0: cat tf=2 df=1 → 2*4/1=8 ; dog tf=1 df=2 → 2 ; the tf=1 df=4 → 1
    assert(got((0L, 1)) === (("cat", 2L, 1L, 8.0)))
    assert(got((0L, 2)) === (("dog", 1L, 2L, 2.0)))
    // doc 2: bird (4.0) beats the (1.0)
    assert(got((2L, 1))._1 === "bird")
    assert(got((2L, 1))._4 === 4.0)
    // every doc emits ≤ k rows, ranks contiguous from 1
    assert(got.keys.groupBy(_._1).values.forall(ks =>
      ks.map(_._2).toSeq.sorted === (1 to ks.size)))
  }

  test("tfidf plan: WindowGroupLimit bounds the top-k; N is broadcast") {
    val df = Analysis.queries("text_tfidf")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500)) // 1-row N
  }

  test("length histogram buckets by integer division and counts exactly") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "x", "a", 99L), (1L, "x", "a", 100L), (2L, "x", "a", 199L),
      (3L, "x", "b", 5L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val got = Analysis.lengthHist(d).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(("a", 0L)) === ((1L, 99L, 99L)))
    assert(got(("a", 1L)) === ((2L, 100L, 199L)))
    assert(got(("b", 0L)) === ((1L, 5L, 5L)))
  }

  test("length quantiles: interpolated percentiles and exact mean on a hand case") {
    val s = spark; import s.implicits._
    // n_chars 10,20,30,40: p50 = 20 + 0.5*(30-20) = 25; p90 = 37; mean 25
    val d = (1L to 4L).map(i => (i, "x", "a", i * 10L))
      .toDF("doc_id", "text", "source", "n_chars")
    val r = Analysis.lengthQuantiles(d).collect().head
    assert(r.getAs[Long]("n_docs") === 4L)
    assert(r.getAs[Double]("mean_chars") === 25.0)
    assert(r.getAs[Double]("p50") === 25.0)
    assert(r.getAs[Double]("p90") === 37.0)
    // 30 + 0.97·10 in double arithmetic (39.699999999999996); the
    // BIT-parity of the interpolation is the oracle gate's job — this
    // test pins the semantics, so a tolerance compare is right here
    assert(math.abs(r.getAs[Double]("p99") - 39.7) < 1e-12)
  }

  test("vocab sketch: exact column is exact; estimate within documented rsd") {
    val s = spark; import s.implicits._
    val d = (0 until 50).map(i =>
      (i.toLong, s"tok$i tok${i % 7} shared", "en")).toDF("doc_id", "text", "lang")
    val r = Analysis.vocabSketch(d).collect().head
    assert(r.getAs[String]("lang") === "en")
    assert(r.getAs[Long]("n_tokens") === 150L)
    assert(r.getAs[Long]("vocab_exact") === 51L) // tok0..tok49 + shared
    // HLL++ at rsd=0.02 on 51 distinct values: allow a generous 5× band
    assert(math.abs(r.getAs[Long]("vocab_approx") - 51L) <= 6L)
    assert(r.getAs[Double]("rel_err") >= 0.0)
  }

  test("vocab sketch: two-level aggregate is bit-identical to the one-pass twin") {
    // r16 rewrote vocabSketch to sketch per-(lang, t) DISTINCT rows
    // (HLL insertion is idempotent), with n_tokens folded back as
    // sum of exact counts. This pins every column — including the raw
    // HLL estimate — against the r15 one-pass formulation.
    val s = spark; import s.implicits._
    val d = (0 until 80).map(i =>
      (i.toLong, s"tok$i tok${i % 7} tok${i % 13} shared",
        if (i % 3 == 0) "en" else "de")).toDF("doc_id", "text", "lang")
    val toks = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    val onePass = d.select(col("lang"), explode(toks).as("t"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("t")).as("vocab_exact"),
        approx_count_distinct(col("t"), Analysis.VocabSketchRsd)
          .as("vocab_approx"))
      .withColumn("rel_err",
        abs(col("vocab_approx") - col("vocab_exact")).cast("double") /
          col("vocab_exact").cast("double"))
      .orderBy("lang").collect().toSeq
    val twoLevel = Analysis.vocabSketch(d).orderBy("lang").collect().toSeq
    assert(twoLevel.map(_.toSeq) === onePass.map(_.toSeq))
  }

  test("repetition matches hand-computed gram counts; short docs report zeros") {
    val s = spark; import s.implicits._
    val d = Seq(
      (0L, "a b a b a"), // bigrams {a b:2, b a:2}; trigrams {a b a:2, b a b:1}
      (1L, "p q r"),     // 2 distinct bigrams; 1 trigram, no dups
      (2L, "x")          // too short for any gram — must still appear
    ).toDF("doc_id", "text")
    val got = Analysis.repetition(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r0 = got(0L)
    assert(r0.getAs[Long]("n_bigrams") === 4L)
    assert(r0.getAs[Long]("top_bigram_n") === 2L)
    assert(r0.getAs[Double]("top_bigram_frac") === 0.5)
    assert(r0.getAs[Long]("n_trigrams") === 3L)
    assert(r0.getAs[Long]("dup_trigram_n") === 2L)
    assert(r0.getAs[Double]("dup_trigram_frac") === 2.0 / 3.0)
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_bigrams") === 2L)
    assert(r1.getAs[Long]("top_bigram_n") === 1L)
    assert(r1.getAs[Double]("top_bigram_frac") === 0.5)
    assert(r1.getAs[Long]("dup_trigram_n") === 0L)
    val r2 = got(2L)
    assert(r2.getAs[Long]("n_bigrams") === 0L)
    assert(r2.getAs[Double]("top_bigram_frac") === 0.0)
    assert(r2.getAs[Double]("dup_trigram_frac") === 0.0)
  }

  test("run-stats kernel: scalar cases") {
    import graft.functions.RunStats.statsOf
    assert(statsOf(Seq.empty) === ((0L, 0L)))
    assert(statsOf(Seq("a")) === ((1L, 0L)))
    assert(statsOf(Seq("a", "b", "c")) === ((1L, 0L)))
    assert(statsOf(Seq("a", "b", "a")) === ((2L, 2L)))
    assert(statsOf(Seq("a", "a", "a")) === ((3L, 3L)))
    assert(statsOf(Seq("b", "a", "b", "c", "a", "b")) === ((3L, 5L)))
  }

  test("kernels tolerate null array elements from ad-hoc SQL") {
    // both kernels are registered session-wide; ad-hoc SQL can hand
    // them anything — nulls sort first and compare equal (no NPE)
    val r = spark.sql(
      "SELECT graft_run_stats(array('a', CAST(NULL AS STRING), 'a')) AS rs, " +
        "graft_gram_stats(array('a', CAST(NULL AS STRING), 'a', NULL), 2) AS gs")
      .collect().head
    assert(r.getStruct(0).getLong(0) === 2L) // 'a' twice
    val gs = r.getStruct(1)
    // windows: (a,null), (null,a), (a,null) → (a,null) twice
    assert((gs.getLong(0), gs.getLong(1), gs.getLong(2)) === ((3L, 2L, 2L)))
  }

  test("gram-stats kernel: scalar cases and RunStats∘shingle agreement") {
    import graft.functions.GramStats.statsOf
    // "a b a b a": bigrams {a b ×2, b a ×2} ; trigrams {a b a ×2, b a b}
    val t = Seq("a", "b", "a", "b", "a")
    assert(statsOf(t, 2) === ((4L, 2L, 4L)))
    assert(statsOf(t, 3) === ((3L, 2L, 2L)))
    assert(statsOf(Seq("x"), 2) === ((0L, 0L, 0L)))
    assert(statsOf(Seq.empty, 2) === ((0L, 0L, 0L)))
    // window equality ≡ joined-string equality (space-free tokens):
    // agreement with RunStats over the materialized gram strings
    import graft.functions.RunStats
    for (toks <- Seq(t, Seq("p", "q", "r"), Seq("z", "z", "z", "z"),
        Seq("ab", "c", "ab", "c", "ab"));
        n <- Seq(2, 3)) {
      val grams = if (toks.length < n) Seq.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val (topR, dupR) = RunStats.statsOf(grams)
      val (m, topG, dupG) = statsOf(toks, n)
      assert(m === grams.length.toLong && topG === topR && dupG === dupR,
        s"toks=$toks n=$n")
    }
  }

  test("winnow kernel equals the HOF sort-slice form on fixture and edges") {
    import org.apache.spark.sql.functions._
    // fixture-wide bit equality: the gram-fused kernel (what the
    // registered query runs) against the HOF form over the shingles
    val fused = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), t => length(t) > 0).as("toks"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftWinnowGrams(col("toks"),
          lit(Analysis.FpShingleSize), lit(Analysis.WinnowK)).as("fused"),
        Analysis.winnowFpHof(graft.functions.Ngrams.shingleOfN(col("toks"),
          Analysis.FpShingleSize)).as("hof"))
      .collect()
    assert(fused.nonEmpty)
    fused.foreach(r => assert(r.getString(1) === r.getString(2),
      s"winnow_grams diverged for doc ${r.getLong(0)}"))
    // null tokens inside a window: digest must skip them exactly like
    // concat_ws (join of the non-null tokens)
    val nullWin = spark.sql(
      "SELECT graft_winnow_grams(array('a', CAST(NULL AS STRING), 'b'), 3, 4) AS g, " +
        "array(concat_ws(' ', 'a', CAST(NULL AS STRING), 'b')) AS sh")
      .select(col("g"), Analysis.winnowFpHof(col("sh"))).collect().head
    assert(nullWin.getString(0) === nullWin.getString(1))
    // edges over one-token windows (a window's bytes are the token):
    // short array (< k digests), empty array, duplicate windows (kept),
    // k = 0
    val edges = spark.sql(
      "SELECT graft_winnow_grams(array('a b c', 'd e f'), 1, 4) AS short, " +
        "graft_winnow_grams(CAST(array() AS ARRAY<STRING>), 1, 4) AS empty, " +
        "graft_winnow_grams(array('a b c', 'a b c', 'd e f'), 1, 2) AS dup, " +
        "graft_winnow_grams(array('a b c'), 1, 0) AS k0").collect().head
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h1 = md5hex("a b c"); val h2 = md5hex("d e f")
    assert(edges.getString(0) === Seq(h1, h2).sorted.mkString)
    assert(edges.getString(1) === "")
    assert(edges.getString(2) === Seq(h1, h1, h2).sorted.take(2).mkString,
      "duplicate windows keep both digest copies in the sorted order")
    assert(edges.getString(3) === "")
  }

  test("repetition: kernel path equals the groupBy reference; zero exchanges") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
    val key = (r: org.apache.spark.sql.Row) => r.getAs[Long]("doc_id")
    val a = Analysis.repetition(d).collect().map(r => key(r) -> r.toSeq).toMap
    val b = Analysis.repetitionByGroup(d).collect()
      .map(r => key(r) -> r.toSeq).toMap
    assert(a === b, "narrow-map kernel diverged from the groupBy reference")
    val p = Analysis.repetition(d).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("pack bins shard-locally with exact integer boundary arithmetic") {
    val s = spark; import s.implicits._
    def txt(n: Int) = Seq.fill(n)("t").mkString(" ")
    // s1: cums 100, 300, 400 → doc2 starts in bin 0 and spills past 256;
    // doc3 starts at offset 300 → bin 1. s2: one 300-token doc spills.
    val d = Seq(
      ("s1", 1L, txt(100)), ("s1", 2L, txt(200)), ("s1", 3L, txt(100)),
      ("s2", 4L, txt(300))
    ).toDF("source", "doc_id", "text")
    val got = Analysis.pack(d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("bin")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_spill")))).toMap
    assert(got(("s1", 0L)) === ((2L, 300L, 1L)))
    assert(got(("s1", 1L)) === ((1L, 100L, 0L)))
    assert(got(("s2", 0L)) === ((1L, 300L, 1L)))
    assert(got.size === 3)
  }

  /** Plain-Scala twin of [[Analysis.portableLog2]]'s 89-step fold —
    * the same IEEE op sequence, so equality below is BIT equality. */
  private def plog2Ref(x0: Double): Double = {
    var m = x0; var e = 0.0; var f = 0.0; var w = 0.5
    for (_ <- 1 to 64) {
      if (m < 1.0) { m = m * 2.0; e = e - 1.0 }
      else if (m >= 2.0) { m = m / 2.0; e = e + 1.0 }
    }
    for (_ <- 65 to 88) {
      val m2 = m * m
      if (m2 >= 2.0) { m = m2 / 2.0; f = f + w } else m = m2
      w = w / 2.0
    }
    e + f
  }

  test("portableLog2: bit-equals the scalar fold; exact on powers of two; ~1e-8 accurate") {
    val s = spark; import s.implicits._
    val xs = Seq(1.0, 2.0, 0.5, 1024.0, math.pow(2, -40), 3.0, 10.0,
      0.0017, 1.0 / 3.0, 0.9999999, 1.0000001) ++
      (1 to 200).map(k => k / 7919.0)
    import org.apache.spark.sql.functions.col
    val got = xs.toDF("x")
      .select(col("x"), Analysis.portableLog2(col("x")).as("lg"),
        Analysis.portableLog2Fold(col("x")).as("lgf"))
      .collect().map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    for (x <- xs) {
      // native codegen'd loop ≡ the Column-HOF fold (the oracle's
      // list_reduce mirror) ≡ the branchy scalar reference — all three
      // BIT-equal, so the production path stays certified against the
      // DuckDB twin's arithmetic
      assert(java.lang.Double.doubleToLongBits(got(x)._1) ===
        java.lang.Double.doubleToLongBits(got(x)._2), s"native vs fold at x=$x")
      assert(java.lang.Double.doubleToLongBits(got(x)._1) ===
        java.lang.Double.doubleToLongBits(plog2Ref(x)), s"bits for x=$x")
      // 24 fraction bits: quantization alone allows 2^-24 ≈ 6e-8
      assert(math.abs(got(x)._1 - math.log(x) / math.log(2.0)) < 7e-8, s"accuracy at x=$x")
    }
    // powers of two come out exactly integral
    assert(got(1.0)._1 === 0.0)
    assert(got(2.0)._1 === 1.0)
    assert(got(0.5)._1 === -1.0)
    assert(got(1024.0)._1 === 10.0)
    assert(got(math.pow(2, -40))._1 === -40.0)
  }

  test("unigram logprob: hand case (MLE probabilities, fixed-point sum)") {
    val s = spark; import s.implicits._
    // corpus: "a a b" + "b c" → counts a:2 b:2 c:1, total 5
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = Analysis.unigramLogProb(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // decomposed fixed-point form: (Σ tf·q(cnt))/2^38 − n·plog2(total),
    // q(c) = floor(plog2(c)·2^38 + 0.5) — the exact arithmetic of both
    // engines, mirrored here in scalar Scala
    def q(c: Double): Long =
      math.floor(plog2Ref(c) * Analysis.UnigramFpScale + 0.5).toLong
    val lgT = plog2Ref(5.0)
    // doc 1: a(tf 2, cnt 2), b(tf 1, cnt 2): sfp = 3·q(2)
    val s1 = (3L * q(2.0)).toDouble / Analysis.UnigramFpScale - 3.0 * lgT
    // doc 2: b(tf 1, cnt 2), c(tf 1, cnt 1): sfp = q(2) + q(1), q(1)=0
    assert(q(1.0) === 0L)
    val s2 = (q(2.0) + q(1.0)).toDouble / Analysis.UnigramFpScale - 2.0 * lgT
    assert(got(1L) === ((3L, s1, -(s1 / 3.0))))
    assert(got(2L) === ((2L, s2, -(s2 / 2.0))))
    // fixture run: every doc scored, bits positive (p < 1 throughout)
    val fx = Analysis.queries("text_unigram_logprob")(
      spark, "/root/testdata/sf0.001").collect()
    assert(fx.length === 500)
    assert(fx.forall(r => r.getAs[Double]("bits_per_token") > 0.0))
  }

  test("unigram logprob plan is sortless: hash join + hash aggregates only") {
    // the r16 contract (VERDICT r15 ask #1): no Sort operator of any
    // kind — no WindowExec sort, no SortMergeJoin, no SortAggregate —
    // so the result cannot depend on merge order and the sf100 spill
    // regime of the r15 canonical fold cannot recur. The term join
    // must be the hinted ShuffledHashJoin (sort-merge would
    // reintroduce the corpus sort behind our back).
    val df = Analysis.unigramLogProb(spark.read.parquet(
      "/root/testdata/sf0.001/documents.parquet"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Sort"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
  }

  test("source profile: hand case; fixture totals agree with the per-doc queries") {
    val s = spark; import s.implicits._
    // s1: "the and is not a" → en 5 hits, 5 toks (q: 0.4*0.05 + 0.3*0 + 0.3*1
    //     = 0.32 < 0.6, fails); "der der der" → de, 3 toks < MinTokens;
    //     "x y" → no hits → und. s2: one en doc.
    val d = Seq(
      ("s1", 1L, "the and is not a"),
      ("s1", 2L, "der der der"),
      ("s1", 3L, "x y"),
      ("s2", 4L, "the and the and the and the is")
    ).toDF("source", "doc_id", "text")
    val got = Analysis.sourceProfile(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(got("s1").getAs[Long]("n_docs") === 3L)
    assert(got("s1").getAs[Long]("n_tokens") === 10L)
    assert(got("s1").getAs[Long]("n_quality_pass") === 0L)
    // de/en/und each 1 doc → tie breaks alphabetical: de
    assert(got("s1").getAs[String]("top_lang") === "de")
    assert(got("s1").getAs[Long]("top_lang_docs") === 1L)
    assert(got("s2").getAs[String]("top_lang") === "en")
    assert(got("s1").getAs[Double]("mean_tokens") === 10.0 / 3.0)
    // fixture cross-checks against the independently-shaped per-doc
    // queries: same admission totals, same per-source lang mode as the
    // join-based text_langid
    val dir = "/root/testdata/sf0.001"
    val prof = Analysis.queries("text_source_profile")(spark, dir).collect()
    assert(prof.map(_.getAs[Long]("n_docs")).sum === 500L)
    val passTotal = prof.map(_.getAs[Long]("n_quality_pass")).sum
    assert(passTotal ===
      Analysis.queries("text_quality_filter")(spark, dir).count())
    val langBySrc = Analysis.langId(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(org.apache.spark.sql.functions.col("text").isNotNull))
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source"), "doc_id")
      .collect()
      .groupBy(_.getAs[String]("source"))
      .map { case (src, rows) =>
        val counts = rows.groupBy(_.getAs[String]("predicted_lang"))
          .view.mapValues(_.length).toSeq
        src -> counts.minBy { case (l, n) => (-n, l) }._1
      }
    for (r <- prof)
      assert(r.getAs[String]("top_lang") ===
        langBySrc(r.getAs[String]("source")),
        s"top_lang for ${r.getAs[String]("source")}")
  }

  test("pii audit detects injected PII and attributes it per source") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "contact alice@example.com or bob.smith@sub.domain.org today", "s1"),
      (2L, "server at 192.168.0.1 and backup at 10.0.0.255 ok", "s1"),
      (3L, "call +1 415 555 1234 now", "s2"),
      (4L, "clean text with no identifiers at all", "s2")
    ).toDF("doc_id", "text", "source")
    val audit = Analysis.piiAudit(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val s1 = audit("s1"); val s2 = audit("s2")
    assert((s1.getLong(1), s1.getLong(2), s1.getLong(3), s1.getLong(4),
      s1.getLong(5)) === ((2L, 2L, 2L, 0L, 2L)))
    assert((s2.getLong(1), s2.getLong(2), s2.getLong(3), s2.getLong(4),
      s2.getLong(5)) === ((2L, 1L, 0L, 1L, 0L)))
  }

  test("pii patterns: boundary/backtracking shapes match the RE2 twin") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, size, regexp_extract_all}
    // counts verified identical in DuckDB 1.0.0 (RE2) on these exact
    // strings — the common-subset claim exercised where it could
    // actually diverge: \b against version strings, 1-letter TLDs,
    // greedy digit-group backtracking over dashed phone runs
    val rows = Seq(
      (1L, "v1.2.3.4 released and 999.999.999.999 pinged", (0L, 0L, 1L)),
      (2L, "email-like a@b.c plus ip-in-url http://8.8.8.8/path",
        (0L, 0L, 1L)),
      (3L, "+49-30-123456 and +12125551234", (0L, 1L, 0L)))
    val got = rows.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(Analysis.EmailPattern),
          lit(0))).cast("long").as("e"),
        size(regexp_extract_all(col("text"), lit(Analysis.PhonePattern),
          lit(0))).cast("long").as("p"),
        size(regexp_extract_all(col("text"), lit(Analysis.Ipv4Pattern),
          lit(0))).cast("long").as("i"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    for ((id, _, want) <- rows) assert(got(id) === want, s"doc $id")
  }

  test("pii redaction replaces every span and is idempotent") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "contact alice@example.com or bob.smith@sub.domain.org today"),
      (2L, "server at 192.168.0.1 and backup at 10.0.0.255 ok"),
      (3L, "call +1 415 555 1234 now"),
      (4L, "clean text with no identifiers at all")
    ).toDF("doc_id", "text")
    import org.apache.spark.sql.functions.col
    val once = d.select(col("doc_id"),
        Analysis.redactPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(once(1L) === "contact [EMAIL] or [EMAIL] today")
    assert(once(2L) === "server at [IP] and backup at [IP] ok")
    assert(once(3L) === "call [PHONE] now")
    assert(once(4L) === "clean text with no identifiers at all")
    val twice = d.select(col("doc_id"),
        Analysis.redactPii(Analysis.redactPii(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twice === once, "redaction must be idempotent")
  }

  test("graft_pii_scan kernel is bit-equal to the six-expression chain") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, size, regexp_extract_all}
    // Includes the adversarial overlap the kernel doc calls out: an
    // email local part that parses as an IPv4 (counts bind to the
    // ORIGINAL text, replacements to the email-redacted one — on doc 5
    // the IPv4 count is 1 but nothing survives to replace), plus
    // adjacency, no-match, and empty-string shapes.
    val d = Seq(
      (1L, "contact alice@example.com or bob.smith@sub.domain.org today"),
      (2L, "server at 192.168.0.1 and backup at 10.0.0.255 ok"),
      (3L, "call +1 415 555 1234 or +49-30-123456 now"),
      (4L, "clean text with no identifiers at all"),
      (5L, "mail 1.2.3.4@example.com please"),
      (6L, "a@b.cd+41 555 010 991.2.3.4"),
      (7L, "")
    ).toDF("doc_id", "text")
    val kernel = d.select(col("doc_id"),
        graft.functions.GraftFunctions.graftPiiScan(col("text")).as("p"))
      .select(col("doc_id"), col("p.n_emails"), col("p.n_phones"),
        col("p.n_ipv4"), col("p.redacted"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val chain = d.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(Analysis.EmailPattern),
          lit(0))).cast("long").as("e"),
        size(regexp_extract_all(col("text"), lit(Analysis.PhonePattern),
          lit(0))).cast("long").as("p"),
        size(regexp_extract_all(col("text"), lit(Analysis.Ipv4Pattern),
          lit(0))).cast("long").as("i"),
        Analysis.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(kernel === chain)
    // The overlap doc really exercises the divergence: counted as IPv4
    // on the original, gone before the IPv4 replacement pass ran.
    assert(kernel(5L)._3 === 1L)
    assert(kernel(5L)._4 === "mail [EMAIL] please")
  }

  test("graft_quality_stats kernel is bit-equal to the token-array chain") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{aggregate, array, array_distinct,
      col, filter, length, lit, lower, size, split}
    // mixed whitespace classes (tab, CR, LF, vertical tab, form feed),
    // leading/trailing separators (the chain's empty-fragment filter),
    // repeated tokens, all-stopword text, case folding, and empty text
    val d = Seq(
      (1L, "The the THE quick brown fox the"),
      (2L, "  leading and\ttrailing\r\nwhitespaceforms\fhere  "),
      (3L, "the a an and or of to in is it"),
      (4L, "unique tokens only once each"),
      (5L, ""),
      (6L, "x"),
      (7L, "Tab\tsep\trepeat\ttab\tTAB")
    ).toDF("doc_id", "text")
    val toks = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    val chain = d.select(col("doc_id"),
        length(col("text")).cast("long").as("c"),
        size(toks).cast("long").as("t"),
        size(array_distinct(toks)).cast("long").as("d"),
        size(filter(toks, t => t.isInCollection(Analysis.QualityStopwords)))
          .cast("long").as("s"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("tc"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    val kernel = d.select(col("doc_id"),
        graft.functions.GraftFunctions.graftQualityStats(col("text"),
          array(Analysis.QualityStopwords.map(lit): _*)).as("q"))
      .select(col("doc_id"), col("q.n_chars"), col("q.n_tokens"),
        col("q.n_distinct"), col("q.n_stopwords"), col("q.token_chars"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(kernel === chain)
    // spot-pin the interesting rows: "the" appears 4× in doc 1 (3 of
    // them case-folded), doc 3 is 10 stopword occurrences / 10 tokens,
    // doc 5 is all-zero except n_chars
    assert(kernel(1L) === ((31L, 7L, 4L, 4L, 25L)))
    assert(kernel(3L)._4 === 10L)
    assert(kernel(5L) === ((0L, 0L, 0L, 0L, 0L)))
  }

  test("graft_lang_id kernel matches the relational explode-join-window chain") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, count,
      explode, filter, length, lit, lower, row_number, size, split}
    // shared-marker fan-out ("la" is es AND fr), exact ties (equal es/fr
    // counts must resolve to es — lang asc), case folding, zero hits,
    // empty text, and a clear German winner
    val d = Seq(
      (1L, "der hund und die katze ist nicht hier"),
      (2L, "la la la"),
      (3L, "el y la le et la"),
      (4L, "nothing matching here xyz"),
      (5L, ""),
      (6L, "THE AND the Is a with"),
      (7L, "的 是 不 在")
    ).toDF("doc_id", "text")
    // the pre-r11 relational construction, verbatim
    val markerRows = Analysis.Markers
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }
    val markers = markerRows.toDF("mlang", "t")
    val toksC = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    val toks = d.select(col("doc_id"), explode(toksC).as("t"))
    val hits = toks.join(broadcast(markers), "t")
      .groupBy("doc_id", "mlang").agg(count(lit(1)).as("matches"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("matches").desc, col("mlang").asc)
    val best = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id", "mlang", "matches")
    val chain = d.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("mlang"), lit("und")).as("p"),
        coalesce(col("matches"), lit(0L)).as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val kernel = Analysis.langId(d)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(kernel === chain)
    // pin the shapes the fixture can't produce: the double-counted "la"
    // tie goes to es (lang asc), zero hits → und
    assert(kernel(2L) === (("es", 3L)))
    assert(kernel(3L) === (("es", 4L)))
    assert(kernel(4L) === (("und", 0L)))
    assert(kernel(1L) === (("de", 5L)))
  }

  test("langId plan is a shuffle-free narrow projection (r11 kernel)") {
    // parquet-backed input (a local relation constant-folds the whole
    // query away); the pre-r11 relational form exploded every token
    // into a corpus-wide groupBy + window — two exchanges; the kernel
    // form must be a pure map-side projection over the scan
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = Analysis.langId(d).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1500))
    assert(p.contains("graft_lang_id"), p.take(1500))
  }

  test("graft_regex_count matches size(regexp_extract_all) on every pattern") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, lower, size,
      regexp_extract_all}
    val d = Seq(
      (1L, "Hello world 42 foo-bar, baz!"),
      (2L, "mail a@b.co and c@d.org or 1.2.3.4"),
      (3L, ""),
      (4L, "   "),
      (5L, "ALLCAPS 123 ***")
    ).toDF("doc_id", "text")
    val pats = Seq(Analysis.BpeishPattern, Analysis.EmailPattern,
      Analysis.Ipv4Pattern, Analysis.PhonePattern)
    for (p <- pats) {
      val chain = d.select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")), lit(p), lit(0)))
            .cast("long").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kernel = d.select(col("doc_id"),
          graft.functions.GraftFunctions.graftRegexCount(lower(col("text")),
            lit(p)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(kernel === chain, s"pattern $p")
    }
  }

  test("filter funnel charges each doc to its FIRST failing stage") {
    val s = spark; import s.implicits._
    val stop = Analysis.QualityStopwords
    val d = Seq(
      // 10 tokens < FunnelMinTokens → stage 1 (even though its ttr is 1.0)
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      // 30 copies of one word: ttr 1/30 < 0.35 → stage 2
      (2L, Seq.fill(30)("word").mkString(" ")),
      // all 20 stopwords + 5 repeats: 25 toks, ttr 0.8, stopword_ratio 1
      // → q = 0.4·0.25 + 0 + 0.3·0.8 = 0.34 < 0.6 → stage 3
      (3L, (stop ++ stop.take(5)).mkString(" ")),
      // 30 distinct non-stopwords: q = 0.12 + 0.3 + 0.3 = 0.72 → passed
      (4L, (1 to 30).map(i => s"tok$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Analysis.filterFunnel(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows.keySet === Analysis.FunnelStages.toSet, "dense stage grid")
    assert(rows.values.map(_._1).sum === 4L, "stages partition the corpus")
    for (st <- Analysis.FunnelStages)
      assert(rows(st)._1 === 1L, s"stage $st should hold exactly one doc")
    assert(math.abs(rows.values.map(_._3).sum - 1.0) < 1e-12,
      "shares sum to 1")
  }

  test("chunk dedup: repeated windows collapse to the lexicographic-min keeper") {
    val s = spark; import s.implicits._
    // docs 5 and 2 share identical text (3 tokens → one chunk each);
    // doc 7 is unique. Keeper of the shared chunk = (2, 0).
    val shared = "alpha beta gamma"
    val d = Seq((5L, shared), (2L, shared), (7L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val got = Analysis.chunkDedup(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.size === 2)
    val dup = got.values.find(_._1 == 2L).get
    assert(dup === ((2L, 2L, 2L, 0L)), "shared chunk: 2 copies, keeper (2,0)")
    assert(got.values.count(_._1 == 1L) === 1)
    // within-doc repeats count as copies but one doc
    val rep = (1 to 64).map(_ => "same").mkString(" ") // 2 chunks, same text?
    val d2 = Seq((1L, rep)).toDF("doc_id", "text")
    val g2 = Analysis.chunkDedup(d2).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 64 tokens → starts 1, 25, 49: chunks (32), (32), (16 tokens) —
    // the two full windows are identical text, the 16-token tail is not
    assert(g2.toSet === Set((2L, 1L, 1L, 0L), (1L, 1L, 1L, 2L)))
  }

  test("langid eval: confusion matrix against the labeled corpus") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "the cat and the dog is not a friend", "en"), // correct
      (2L, "der hund und die katze ist nicht",    "de"), // correct
      (3L, "xyzzy plugh quux frobnicate",          "en")  // no markers → und
    ).toDF("doc_id", "text", "lang")
    val got = Analysis.langIdEval(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("en", "en") -> 1L, ("de", "de") -> 1L,
      ("en", "und") -> 1L))
  }

  test("dataset card: hand-computed volumes, distincts, and dup rate") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "a b c", "en", "s1"), (2L, "A b C", "en", "s2"), // dup (lower)
      (3L, "d e", "de", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val r = Analysis.datasetCard(d).collect().head
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_tokens") === 8L)
    assert(r.getAs[Long]("n_chars") === 13L)
    assert(r.getAs[Double]("mean_doc_tokens") === 8.0 / 3.0)
    assert(r.getAs[Long]("n_langs") === 2L)
    assert(r.getAs[Long]("n_sources") === 2L)
    assert(r.getAs[Long]("n_exact_dup_docs") === 1L)
    assert(r.getAs[Double]("dup_rate") === 1.0 / 3.0)
  }

  test("ppl buckets partition the corpus and bound the per-doc scores") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val perDoc = Analysis.unigramLogProb(
        d.filter(org.apache.spark.sql.functions.col("text").isNotNull))
      .collect().map(_.getAs[Double]("bits_per_token"))
    val buckets = Analysis.pplBuckets(
        d.filter(org.apache.spark.sql.functions.col("text").isNotNull))
      .collect()
    assert(buckets.map(_.getAs[Long]("n_docs")).sum === perDoc.length.toLong)
    for (b <- buckets) {
      val lo = b.getAs[Long]("bucket").toDouble / Analysis.PplBucketsPerBit
      val hi = lo + 1.0 / Analysis.PplBucketsPerBit
      assert(b.getAs[Double]("min_bpt") >= lo &&
        b.getAs[Double]("max_bpt") < hi,
        s"bucket ${b.getAs[Long]("bucket")} extremes outside its range")
      assert(b.getAs[Double]("min_bpt") <= b.getAs[Double]("max_bpt"))
    }
    assert(buckets.map(_.getAs[Double]("min_bpt")).min === perDoc.min)
    assert(buckets.map(_.getAs[Double]("max_bpt")).max === perDoc.max)
  }

  test("filter funnel emits explicit zero rows for empty stages") {
    val s = spark; import s.implicits._
    // every doc passes → the three reject stages must still be rows
    val d = Seq((1L, (1 to 30).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Analysis.filterFunnel(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows === Map(
      Analysis.FunnelStages(0) -> 0L, Analysis.FunnelStages(1) -> 0L,
      Analysis.FunnelStages(2) -> 0L, Analysis.FunnelStages(3) -> 1L))
  }
}
