package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines over the
  * `documents` fixture: language identification, quality scoring, token
  * statistics, and document fingerprinting.
  *
  * All per-document features are computed map-side from the raw text with
  * higher-order Column functions (no explode where an array fold
  * suffices) — at 100 TB the difference between a narrow map stage and an
  * explode+shuffle is the whole game. Only lang-ID (which needs a
  * marker-table join) and the winnowing fingerprint (a per-doc top-k of
  * shingle hashes) aggregate at all, and both shuffle doc-id-keyed rows,
  * never raw text.
  *
  * Engine parity: divisions are single double ops on exact integer
  * counts; literals are cast to DOUBLE explicitly in the oracle SQL
  * (DuckDB parses bare `0.4` as DECIMAL, whose arithmetic differs);
  * fingerprints are md5 hex (identical in both engines).
  */
object Analysis {

  /** Marker words per language — tiny public function-word lists; the
    * lang with the most marker hits wins (ties: alphabetical; no hits:
    * "und"). This is the classic cheap heuristic pre-filter that runs
    * before any model-based identifier in a data pipeline.
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "and", "is", "not", "a", "with", "of", "to"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "un", "con"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "un", "avec"),
    "zh" -> Seq("的", "是", "不", "了", "在", "有", "和", "我")
  )

  val QualityStopwords: Seq[String] = Tokenize.DefaultStopwords

  /** THE composite quality score — the one formula [[quality]],
    * [[sourceProfile]], and [[filterFunnel]] all gate on. Single
    * definition so the funnel's stage-3 bar can never silently diverge
    * from what `text_quality_filter` actually admits (the oracle SQL
    * strings still spell it out independently — that duplication is the
    * point of an oracle). Inputs are exact long counts; every ratio is
    * one double division.
    */
  private def qualityScore(nTokens: Column, nStopwords: Column,
      nDistinct: Column): Column =
    lit(0.4) * least(lit(1.0), nTokens.cast("double") / lit(100.0)) +
      lit(0.3) * (lit(1.0) -
        nStopwords.cast("double") / nTokens.cast("double")) +
      lit(0.3) * (nDistinct.cast("double") / nTokens.cast("double"))
  /** Winnowing fingerprint keeps this many minimal shingle hashes. */
  val WinnowK = 4
  val FpShingleSize = 3

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.parquet(s, dir, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)

  private def toksCol: Column =
    filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)

  /** The fused five-count quality kernel over `text` (stopword list as
    * a foldable literal). Deterministic, so repeated `getField`s on it
    * inside one projection collapse to a single evaluation via
    * whole-stage codegen's subexpression elimination.
    */
  private def qualityStatsCol: Column =
    graft.functions.GraftFunctions.graftQualityStats(col("text"),
      array(QualityStopwords.map(lit): _*))

  // ---- language ID ------------------------------------------------------

  /** Marker list as the foldable literal [[graft.functions.LangId]]
    * consumes: array<struct<lang, ws>>.
    */
  private def markersLit: Column =
    array(Markers.map { case (l, ws) =>
      struct(lit(l).as("lang"), array(ws.map(lit): _*).as("ws"))
    }: _*)

  def langId(d: DataFrame): DataFrame = {
    // since r11 this is ONE fused map-side kernel pass — the previous
    // relational form exploded every token occurrence into a
    // corpus-wide groupBy(doc_id, lang) shuffle + top-1 window, which
    // at 100 TB shuffles the whole corpus to count a handful of marker
    // hits per doc. The DuckDB oracle keeps the relational
    // construction as the independent twin; AnalysisSpec pins
    // kernel ≡ relational chain including the es/fr shared-marker
    // fan-out and the all-tie case.
    // two-step select: `getField` directly over a function call whose
    // child is an array<struct> literal trips the 4.1 analyzer
    // (unresolved-operator INTERNAL_ERROR); extracting from the
    // aliased column resolves fine and ProjectCollapsing folds the two
    // projections back into one
    d.select(col("doc_id"),
        graft.functions.GraftFunctions.graftLangId(col("text"), markersLit)
          .as("lid"))
      .select(col("doc_id"),
        col("lid.predicted_lang").as("predicted_lang"),
        col("lid.matches").as("matches"))
  }

  /** Heuristic-vs-label confusion matrix — the eval every pipeline
    * runs before trusting a cheap classifier to gate data: (actual,
    * predicted, n) over the corpus's labeled `lang` column. Diagonal
    * mass = accuracy; off-diagonal rows name the confusable pairs the
    * marker lists must grow to separate. One extra broadcast-join +
    * bounded (langs²) aggregate over the [[langId]] chain.
    */
  def langIdEval(d: DataFrame): DataFrame = {
    // the kernel makes prediction a per-row projection, so the former
    // predict-then-self-join collapses to one scan + the bounded
    // (langs²) aggregate
    d.select(col("lang").as("actual_lang"),
        graft.functions.GraftFunctions.graftLangId(col("text"), markersLit)
          .as("lid"))
      .select(col("actual_lang"),
        col("lid.predicted_lang").as("predicted_lang"))
      .groupBy("actual_lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
  }

  // ---- quality ----------------------------------------------------------

  /** Per-doc quality features + a fixed-weight composite score. Every
    * ratio is ONE double division over exact long counts.
    */
  def quality(d: DataFrame): DataFrame = {
    // since r11 the five counts are ONE fused `graft_quality_stats`
    // pass (one lowercase + one scan, no token array / distinct array /
    // filtered array allocations) — semantics pinned to the Column
    // chain by the AnalysisSpec kernel-parity test. Two-step select
    // (bind the struct, then extract): a single projection with five
    // getFields relies on codegen subexpression elimination to run the
    // kernel once — on interpreted fallback each getField would re-run
    // the full scan (the langId/sourceProfile binding discipline).
    val base = d.select(col("doc_id"), qualityStatsCol.as("qs"))
      .select(
        col("doc_id"),
        col("qs.n_chars").as("n_chars"),
        col("qs.n_tokens").as("n_tokens"),
        col("qs.n_distinct").as("n_distinct"),
        col("qs.n_stopwords").as("n_stopwords"),
        col("qs.token_chars").as("token_chars"))
    base.select(
      col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct"),
      (col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
        .as("stopword_ratio"),
      (col("token_chars").cast("double") / col("n_tokens").cast("double"))
        .as("mean_token_len"),
      (col("n_distinct").cast("double") / col("n_tokens").cast("double"))
        .as("type_token_ratio"))
      .withColumn("quality_score",
        // same double ops as qualityScore over the base counts: the
        // ratio columns ARE those divisions (projection-collapsed)
        lit(0.4) * least(lit(1.0),
          col("n_tokens").cast("double") / lit(100.0)) +
          lit(0.3) * (lit(1.0) - col("stopword_ratio")) +
          lit(0.3) * col("type_token_ratio"))
  }

  /** Admission bar for [[qualityFilter]]: composite score floor and a
    * hard minimum token count (ultra-short docs score high on
    * type-token ratio but carry no training signal). The score floor
    * BINDS on the fixtures (sf0.01 scores span 0.51–0.78, so both sides
    * of the bar are exercised); the token floor does not (fixture
    * minimum is 10) — it is the guard against degenerate short docs a
    * real corpus contains.
    */
  val QualityThreshold = 0.6
  val MinTokens = 5

  /** The apply step on quality scores: the admitted corpus slice a
    * training pipeline actually feeds downstream. One corpus scan
    * (quality features are narrow per-row arithmetic); the filter is a
    * plain predicate, so at scale it pipelines inside the scan stage.
    */
  def qualityFilter(d: DataFrame): DataFrame =
    quality(d)
      .filter(col("quality_score") >= QualityThreshold &&
        col("n_tokens") >= MinTokens)
      .select("doc_id", "n_tokens", "quality_score")

  // ---- token stats ------------------------------------------------------

  /** Whitespace vs regex ("BPE-ish" word/digit/symbol classes) token
    * counts + the chars-per-token estimator used for quick budgeting.
    */
  val BpeishPattern = "[a-z]+|[0-9]|[^a-z0-9\\s]"

  def tokenStats(d: DataFrame): DataFrame =
    // both counts fused since r11: ws_tokens rides the quality-stats
    // kernel (no token array), regex_tokens the count-only regex
    // kernel (no match-array materialization — the BPE-ish pattern
    // matches nearly every character run, so the discarded match
    // strings dominated the chain's cost)
    d.select(
      col("doc_id"),
      qualityStatsCol.getField("n_tokens").as("ws_tokens"),
      graft.functions.GraftFunctions.graftBpeishCount(lower(col("text")))
        .as("regex_tokens"),
      ceil(length(col("text")).cast("double") / lit(4.0)).cast("long")
        .as("est_bpe_tokens"))

  // ---- fingerprints -----------------------------------------------------

  private def shingleOfN(toks: Column, n: Int): Column =
    graft.functions.Ngrams.shingleOfN(toks, n)

  /** Two fingerprints per doc:
    *  - `bow_fp`: md5 of the sorted distinct token bag — an
    *    order-insensitive exact-dedup key;
    *  - `winnow_fp`: concat of the `WinnowK` smallest shingle md5s — a
    *    locality-sensitive sketch (shared shingles → shared minima),
    *    computed entirely map-side straight off the TOKEN array by the
    *    native [[graft.functions.WinnowGrams]] kernel: window bytes
    *    stream into the digest (no gram string, no shingle array, no
    *    HOF transform), a bounded k-array keeps the minima, and only
    *    the winners hex-encode. The HOF form md5'd and hex-materialized
    *    EVERY shingle then fully sorted the strings; [[winnowFpHof]]
    *    keeps it for AnalysisSpec's equality pin.
    */
  def fingerprints(d: DataFrame): DataFrame =
    d.select(col("doc_id"), toksCol.as("toks"))
      .select(
        col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))).as("bow_fp"),
        graft.functions.GraftFunctions.graftWinnowGrams(col("toks"),
          lit(FpShingleSize), lit(WinnowK)).as("winnow_fp"))

  /** Reference HOF formulation of the winnow sketch (the oracle SQL's
    * literal shape) — spec-pinned equal to the kernel.
    */
  def winnowFpHof(shingles: Column): Column =
    concat_ws("", slice(array_sort(transform(shingles, s => md5(s))),
      1, WinnowK))

  // ---- n-gram language-model counts --------------------------------------

  /** Top bigrams per corpus language — the count table an n-gram LM (or a
    * corpus-drift monitor) is built from. Ties break alphabetically so
    * top-k is deterministic in both engines.
    *
    * Scale notes: two passes, neither of which shuffles gram STRINGS.
    * Pass 1 screens CANDIDATES on hashed bigram keys — the
    * [[graft.functions.GramKeySeq]] kernel streams window bytes into
    * an 8-byte key per position (no concat, no string allocation), and
    * the (lang, key) count rides a map-side-partial long aggregate;
    * `rank() ≤ k` ordered by count ALONE (no key tie-break — key order
    * is not string order) keeps every key that could reach the top-k
    * under any alphabetical tie-break, via WindowGroupLimit. Pass 2
    * attaches the tiny candidate set as a BROADCAST join on the
    * positional key stream and re-counts the surviving occurrences by
    * their REAL string (materialized from the token slice only for
    * hits, inside one codegen stage — non-candidates die before any
    * string exists), so emitted counts are exact string counts even if
    * two strings collide into one key (they recount apart); the final
    * (n desc, bigram asc) row_number runs on the ≤ langs·(k+ties)
    * labeled rows. The ONLY hash exposure is the candidate screen: a
    * top-k bigram is screened out only if 64-bit collisions promote k
    * unrelated keys above its own (probability ~|vocab²|²/2⁶⁴ of any
    * collision at all, and the collision must additionally straddle
    * the top-k boundary) — the same epsilon stance as the hashed-key
    * dedup operators, here with exact output values regardless.
    */
  val TopBigramsK = 5

  def topBigrams(d: DataFrame, k: Int = TopBigramsK): DataFrame = {
    val production = graft.functions.PortableHash.enabled(d)
    val base = d.select(col("lang"), toksCol.as("toks"))
    val keySeq = graft.functions.GraftFunctions.graftGramKeySeq(
      col("toks"), lit(2), lit(production))
    val keyCnt = base.select(col("lang"), explode(keySeq).as("bk"))
      .groupBy("lang", "bk").agg(count(lit(1)).as("kn"))
    val wk = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("kn").desc)
    val cand = keyCnt.withColumn("kr", rank().over(wk))
      .filter(col("kr") <= k).select("lang", "bk")
    val counts = base
      .select(col("lang"), col("toks"), posexplode(keySeq))
      .withColumnRenamed("col", "bk")
      .join(broadcast(cand), Seq("lang", "bk"))
      .select(col("lang"),
        concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(2))).as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("n").desc, col("bigram").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ---- document chunking -------------------------------------------------

  /** Sliding-window token chunking — the context-window splitter a RAG
    * index or a pretraining tokenizer feeds on: fixed [[ChunkTokens]]
    * windows advancing by [[ChunkStride]] (overlap = tokens − stride),
    * last window clipped to the doc end, short docs emitting exactly one
    * chunk. Start count is 1 + ⌈max(0, len − C) / S⌉ in INTEGER
    * arithmetic — identical in both engines, no float rounding — so no
    * degenerate fully-contained tail chunk is emitted.
    *
    * Scale notes: map-only — tokenize, compute starts, explode; no
    * shuffle at all (the registered query's orderBy is presentation
    * only). Chunk text re-materializes from the bound token array; the
    * token array is bound ONCE per row (a computed array captured in the
    * per-chunk lambda would re-tokenize per chunk).
    */
  val ChunkTokens = 32
  val ChunkStride = 24

  def chunk(d: DataFrame): DataFrame = {
    val toks = col("toks")
    val extra = greatest(lit(0), size(toks) - ChunkTokens)
    // integer ceil-division; the double division is exact (values ≪ 2⁵³)
    val nExtra = floor((extra + lit(ChunkStride - 1)) / lit(ChunkStride)).cast("int")
    d.select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"), toks,
        posexplode(transform(sequence(lit(0), nExtra),
          k => k * ChunkStride + 1)))
      .select(
        col("doc_id"),
        col("pos").cast("int").as("chunk_id"),
        col("col").cast("int").as("start_tok"),
        least(lit(ChunkTokens), size(toks) - col("col") + 1)
          .cast("long").as("n_tokens"),
        concat_ws(" ", slice(toks, col("col"), lit(ChunkTokens)))
          .as("chunk_text"))
  }

  /** Chunk-level exact dedup — the repeated-span detector at training-
    * context granularity: boilerplate that never duplicates a whole
    * document still duplicates its context windows, and a packer that
    * ships the same 32-token window hundreds of times is a
    * memorization hazard no doc-level dedup can see. One row per
    * distinct chunk text (the `dedup_exact` convention — group sizes
    * are the audit, so "no duplicates" is an asserted fact), keeper =
    * lexicographic min (doc_id, chunk_id).
    *
    * Scale notes: the sha-256 digest is computed MAP-SIDE over the
    * chunk text, so the one exchange carries (64-hex hash, doc_id,
    * chunk_id) rows — chunk text never shuffles. The keeper arg-min
    * rides a min-window stacked on the SAME chunk_hash partitioning as
    * the aggregate (no second exchange): keep_doc_id = min doc, and
    * keep_chunk_id = min chunk WITHIN that doc. (A doc_id·10⁶+chunk_id
    * integer encoding was rejected in review: nothing bounds chunk_id
    * below 10⁶, and a ~24M-token doc would silently decode a wrong —
    * possibly nonexistent — keeper in both engines at once.)
    */
  def chunkDedup(d: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("chunk_hash")
    chunk(d)
      .select(sha2(col("chunk_text"), 256).as("chunk_hash"), col("doc_id"),
        col("chunk_id"))
      .withColumn("kd", min(col("doc_id")).over(w))
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_copies"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc_id"),
        min(when(col("doc_id") === col("kd"), col("chunk_id")))
          .cast("long").as("keep_chunk_id"))
  }

  // ---- TF-IDF ------------------------------------------------------------

  /** Top terms per document by tf·idf. The idf is the LINEAR ratio
    * N/df, not ln(N/df): `tf·N` is an exact integer product (≪ 2⁵³) and
    * the single division is correctly rounded, so the score is
    * bit-identical in any IEEE-754 engine — whereas libm `ln` differs
    * by 1 ulp between the JVM and DuckDB on ~0.1 % of N/df inputs
    * (measured over all df ∈ 1..60000). ln is monotone in the ratio, so
    * for a fixed tf the term ordering is unchanged; rankings that mix
    * tf levels weight rare terms more strongly than the log form — a
    * documented scoring choice, not an approximation.
    *
    * Scale notes: LINEAR single-consumer chain — one corpus scan. tf is
    * one (doc_id, term) shuffle off the exploded token stream (map-side
    * partial counts collapse repeats); df attaches via a COUNT WINDOW
    * over term on the tf rows (one row per distinct (doc,term)) rather
    * than a df-aggregate joined back — a tf ⋈ df self-derived join
    * would plan the scan+tokenize+tf subtree twice (HOF lambdas
    * upstream defeat exchange-reuse canonicalization, measured on this
    * very plan); the window form makes single materialization hold by
    * construction. N rides a 1-row broadcast (the chi2 G4 pattern).
    * Top-k per doc is a row_number window bounded by WindowGroupLimit,
    * same as chi2's top-75. The oracle keeps the join formulation — an
    * independent implementation of the same semantics.
    */
  val TfIdfK = 5

  def tfidf(d: DataFrame, k: Int = TfIdfK): DataFrame = {
    val tok = d.select(col("doc_id"), explode(toksCol).as("t"))
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val byTerm = org.apache.spark.sql.expressions.Window.partitionBy("t")
    val nDf = d.agg(count(lit(1)).as("n_docs"))
    val score = (col("tf") * col("n_docs")).cast("double") / col("df").cast("double")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(score.desc, col("t").asc)
    tf.withColumn("df", count(lit(1)).over(byTerm))
      .crossJoin(broadcast(nDf))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("t").as("term"), col("tf"), col("df"),
        score.as("score"), col("rank"))
  }

  // ---- repetition audit --------------------------------------------------

  /** Gopher-style within-document repetition metrics — the filter that
    * catches boilerplate floods and degenerate generations before
    * training: per doc, the fraction of bigram positions covered by the
    * single most frequent bigram (`top_bigram_frac`) and the fraction
    * of trigram positions whose trigram occurs more than once
    * (`dup_trigram_frac`). Every admitted document appears in the
    * output (docs too short for an n-gram report zero counts — no
    * silent drops).
    *
    * Scale notes: ZERO shuffles and ZERO gram materialization —
    * multiplicity stats are per-document, so the codegen'd
    * [[graft.functions.GramStats]] kernel computes them inside one
    * narrow map straight off the bound TOKEN array (both gram sizes
    * read the same attribute; no concat_ws gram string is ever built —
    * the HOF transform in `shingleOfN` was the dominant remaining cost
    * once the shuffles were gone). The prior explode + (doc, n, gram)
    * count + two doc-keyed aggregates shuffled every gram occurrence
    * of the corpus twice for numbers that never leave the row — see
    * [[repetitionByGroup]], kept as the spec-pinned reference.
    * Fractions are one double division over exact long counts —
    * bit-identical across engines.
    */
  def repetition(d: DataFrame): DataFrame =
    d.select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions
          .graftGramStats(col("toks"), lit(2)).as("bs"),
        graft.functions.GraftFunctions
          .graftGramStats(col("toks"), lit(3)).as("ts"))
      .select(col("doc_id"),
        col("bs.n_grams").as("n_bigrams"), col("bs.top").as("top_bigram_n"),
        col("ts.n_grams").as("n_trigrams"), col("ts.dup").as("dup_trigram_n"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0,
          col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("dup_trigram_frac",
        when(col("n_trigrams") > 0,
          col("dup_trigram_n").cast("double") / col("n_trigrams").cast("double"))
          .otherwise(lit(0.0)))

  /** The explode + groupBy formulation [[repetition]] replaced — kept
    * as the parity REFERENCE (AnalysisSpec pins the two equal on the
    * fixture corpus): it shuffles every gram OCCURRENCE of the corpus
    * twice to compute per-document numbers, where the production path
    * is one narrow map over the codegen'd
    * [[graft.functions.GramStats]] kernel — zero exchanges,
    * plan-asserted.
    */
  private[text] def repetitionByGroup(d: DataFrame): DataFrame = {
    val toks = col("toks")
    val grams = d.select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"), explode(concat(
        transform(shingleOfN(toks, 2),
          g => struct(lit(2).as("n"), g.as("gram"))),
        transform(shingleOfN(toks, 3),
          g => struct(lit(3).as("n"), g.as("gram"))))).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
    val counts = grams.groupBy("doc_id", "n", "gram")
      .agg(count(lit(1)).as("c"))
    val per = counts.groupBy("doc_id", "n").agg(
      sum(col("c")).as("positions"),
      max(col("c")).as("top"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup"))
    val wide = per.groupBy("doc_id").agg(
      max(when(col("n") === 2, col("positions"))).as("b_pos"),
      max(when(col("n") === 2, col("top"))).as("b_top"),
      max(when(col("n") === 3, col("positions"))).as("t_pos"),
      max(when(col("n") === 3, col("dup"))).as("t_dup"))
    d.select(col("doc_id")).join(wide, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("b_pos"), lit(0L)).as("n_bigrams"),
        coalesce(col("b_top"), lit(0L)).as("top_bigram_n"),
        coalesce(col("t_pos"), lit(0L)).as("n_trigrams"),
        coalesce(col("t_dup"), lit(0L)).as("dup_trigram_n"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") > 0,
          col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("dup_trigram_frac",
        when(col("n_trigrams") > 0,
          col("dup_trigram_n").cast("double") / col("n_trigrams").cast("double"))
          .otherwise(lit(0.0)))
  }

  // ---- sequence packing --------------------------------------------------

  /** Concat-and-split sequence-packing audit — the per-bin fill report
    * behind a pretraining packer that concatenates documents in a
    * deterministic shard order and splits the token stream into
    * fixed-[[PackBudget]] context windows. Per (source, bin): documents
    * STARTING in the bin, their token mass, and how many straddle the
    * bin boundary (`n_spill` — the cross-document-attention leak count a
    * packer either masks or pads away).
    *
    * Scale notes: packing is SHARD-LOCAL by contract — the running token
    * sum is a window partitioned by `source` (the fixture's shard key)
    * ordered by doc_id, never a global single-partition window; at
    * 100 TB the shard key is the input split, each a bounded token
    * stream. ONE exchange on source; all arithmetic is integer
    * (`div`), so bin ids are exact in any engine.
    */
  val PackBudget = 256L

  def pack(d: DataFrame): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    d.select(col("source"), col("doc_id"), size(toksCol).cast("long").as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(
        bySource.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("bin", expr(s"(cum - n_toks) div $PackBudget"))
      .withColumn("end_bin", expr(s"(cum - 1) div $PackBudget"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("end_bin") > col("bin"), 1L).otherwise(0L)).as("n_spill"))
  }

  // ---- unigram LM scoring ------------------------------------------------

  /** Engine-portable base-2 logarithm, built ONLY from IEEE-754 basic
    * operations (×, ÷, +, comparisons — each correctly rounded by the
    * standard, hence bit-identical in any conforming engine). libm
    * `ln`/`log2` carry no such guarantee: DuckDB's `ln` and the JVM's
    * `Math.log` were measured to disagree by 1 ulp on ~0.04 % of
    * inputs, which would break the bit-exact oracle gate. This is the
    * same portability discipline as the decimal-exact centroid means,
    * applied to the one transcendental a data pipeline actually needs.
    *
    * Shape: one 89-step fold, index-dispatched, state [m, e, f, w]:
    * steps 1–64 normalize m into [1, 2) by exact power-of-two scaling
    * (accumulating the exponent e); steps 65–88 extract 24 fraction
    * bits by squaring (m←m², halve if ≥2, add the current weight w to
    * f — the add is exact because f is a sum of distinct powers of
    * two ≥ 2⁻²⁴); step 89 writes e+f into slot 1. Only the squaring
    * rounds, and it rounds identically everywhere. Max error vs true
    * log2 ≤ ~7e-8 (quantization 2⁻²⁴ plus ~1-ulp-per-squaring
    * drift); powers of two are EXACT. Valid for x in (2⁻⁶⁴, 2⁶⁴) —
    * unigram probabilities (≥ 1/total) sit inside for any corpus
    * under 2⁶⁴ tokens. Cost: 89 arithmetic iterations per evaluated
    * row — apply it to aggregated rows (vocab/tf level), never to the
    * raw token stream.
    *
    * The step is BRANCHLESS — arithmetic selection by exact 0/1 flags
    * (`cast(cond as double)`), not when/CASE: DuckDB 1.0.0's
    * `list_reduce` miscomputes list-typed accumulators when a CASE in
    * the lambda takes different branches on different rows of a
    * vector (measured: ~100 % wrong on a 3 k-row divergent fold,
    * correct on uniform branches), so the oracle twin cannot branch —
    * and the Spark side mirrors it op-for-op. The selection math is
    * bit-neutral: every flag product/scaling is exact (×1, ×2, ÷2,
    * +0), the one rounding op (m·m) is identical in both forms, and
    * no intermediate is NaN/Inf/−0 on the valid domain, so branchless
    * ≡ branchy bit-for-bit — AnalysisSpec pins exactly that against a
    * branchy scalar reference.
    */
  def portableLog2(x: Column): Column =
    graft.functions.GraftFunctions.graftLog2(x)

  /** The fold form of [[portableLog2]] — the literal Column-HOF mirror
    * of the oracle's `list_reduce`, kept as the parity REFERENCE: the
    * production path is the codegen'd [[graft.functions.PortableLog2]]
    * loop (HOFs defeat whole-stage codegen and allocate an ArrayData
    * per step per row — measured ~120 µs/row in the unigram chain),
    * and AnalysisSpec pins native ≡ fold across the valid domain, so
    * the DuckDB twin's arithmetic is still certified op-for-op.
    */
  def portableLog2Fold(x: Column): Column = {
    def flag(c: Column): Column = c.cast("double")
    element_at(
      aggregate(sequence(lit(1), lit(89)),
        array(x, lit(0.0), lit(0.0), lit(0.5)),
        (st, i) => {
          val m = element_at(st, 1); val e = element_at(st, 2)
          val f = element_at(st, 3); val w = element_at(st, 4)
          val p1 = flag(i <= 64)
          val p2 = flag(i > 64 && i <= 88)
          val p3 = flag(i > 88)
          val a = flag(m < 1.0); val b = flag(m >= 2.0)
          val m2 = m * m
          val c2 = flag(m2 >= 2.0)
          array(
            p1 * (m * (lit(1.0) + a) * (lit(1.0) - b / 2.0)) +
              p2 * (m2 * (lit(1.0) - c2 / 2.0)) +
              p3 * (e + f),
            e + p1 * (b - a),
            f + p2 * w * c2,
            w / (lit(1.0) + p2))
        }),
      1)
  }

  /** Unigram-LM document scoring — the KenLM/CCNet-style perplexity
    * proxy of a data pipeline, with the LM trained on the corpus
    * itself: every document gets Σ tf·log2 p(w) over its tokens
    * (p = corpus MLE cnt/total; every token is in-vocabulary by
    * construction, so no smoothing term) and `bits_per_token` =
    * −sum/n — high bits ⇒ rare-token-heavy documents, the tail a
    * quality pipeline inspects first. log2 is [[portableLog2]], so the
    * score is bit-identical across engines. The probability log is
    * DECOMPOSED — Σ tf·log2 cnt − n·log2 total — because that is what
    * keeps the grand total off the heavy chain (below); the two plog2
    * calls cost ≤ ~1.4e-7 absolute vs the ratio form, and the oracle
    * mirrors the decomposition op-for-op.
    *
    * Scale notes — the r16 ORDER-FREE FIXED-POINT design (replacing
    * r15's corpus-wide term window + per-doc
    * `array_sort(collect_list(struct))` canonical fold, the pair that
    * spilled 13.1/28.8 GB in-suite at sf100 under the 32 MB page pin;
    * VERDICT r15 ask #1):
    *
    *  1. Corpus term counts come from a VOCAB-SIZED aggregate
    *     (`tok.groupBy(t).count`) — map-side combine collapses the
    *     token explosion to distinct-terms-per-partition before its
    *     one exchange, and the 89-step [[portableLog2]] then runs once
    *     per VOCAB TERM, not once per tf row (sf100: ~10⁵ folds vs
    *     ~10⁸).
    *  2. Each term's log weight is quantized ONCE to a fixed-point
    *     long `q = floor(log2(cnt)·2^38 + 0.5)` ([[UnigramFpBits]]).
    *     Every per-doc accumulation below is then INTEGER arithmetic —
    *     `Σ tf·q` is exact and commutative, so the result is
    *     bit-identical under ANY partitioning, merge order, or
    *     spill path. No sort, no list materialization: the plan's
    *     only operators after the scans are hash aggregates and one
    *     shuffled HASH join (hinted — sort-merge would reintroduce
    *     the corpus sort), and UnigramPlanSpec asserts zero SortExec.
    *  3. tf rows attach q via tf ⋈ vocab on term. Deriving the vocab
    *     counts from the tf rows instead (`tf.groupBy(t).sum`) would
    *     single-tokenize but double-execute the 300M-row post-shuffle
    *     tf aggregation (exchange reuse covers the exchange, not the
    *     aggregate above it — the r15 measured finding); re-running
    *     the cheap scan+split tokenization for the vocab branch is
    *     the lighter second pass (A/B'd in docs/BENCH_NOTES.md r16:
    *     re-tokenizing won by ~8 % at sf10).
    *
    * The grand total stays a NARROW map-side scan-sum (array size, no
    * explode, no shuffle) on a 1-row broadcast (chi2's G4 pattern),
    * and `lg_tot` stays double: it multiplies `n_tokens` once per
    * OUTPUT row, a single deterministic IEEE product mirrored
    * op-for-op by the oracle. Quantization: |q/2^38 − log2 cnt| ≤
    * 2^-39, so |Δsum_log2p| ≤ n_tokens·2^-39 and |Δbits_per_token| ≤
    * 2^-39 ≈ 1.8e-12 — far below the 7e-8 the log itself carries.
    * Overflow envelope: |Σ tf·q| ≤ n_tokens·log2(corpus)·2^38 <
    * 2^63 whenever n_tokens·log2(corpus) < 2^25 — a 500k-token doc in
    * a 2^45-token (≈3.5e13, 100 TB-scale) corpus sits 2× inside.
    * Docs with zero admitted tokens report n_tokens=0, bits 0.0 — no
    * silent drops.
    */
  def unigramLogProb(d: DataFrame): DataFrame = {
    val tok = d.select(col("doc_id"), explode(toksCol).as("t"))
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val cnt = tok.groupBy("t").agg(count(lit(1)).as("cnt"))
    val q = cnt.select(col("t"),
      floor(portableLog2(col("cnt").cast("double")) * lit(UnigramFpScale)
        + lit(0.5)).as("q"))
    val tot = d.agg(sum(size(toksCol)).cast("long").as("tot"))
      .select(portableLog2(col("tot").cast("double")).as("lg_tot"))
    val perDoc = tf.join(q.hint("shuffle_hash"), Seq("t"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("q")).as("sfp"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"),
        (col("sfp").cast("double") / lit(UnigramFpScale)
          - col("n_tokens").cast("double") * col("lg_tot"))
          .as("sum_log2p"))
    d.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_log2p"), lit(0.0)).as("sum_log2p"))
      .withColumn("bits_per_token",
        when(col("n_tokens") > 0,
          -(col("sum_log2p") / col("n_tokens").cast("double")))
          .otherwise(lit(0.0)))
  }

  /** Fixed-point fraction bits for [[unigramLogProb]]'s per-document
    * accumulation: q = floor(log2(cnt)·2^38 + 0.5). 38 keeps the
    * quantization (2^-39 per token) ~4 orders below the portable log's
    * own 7e-8 envelope while leaving 2^25 of headroom for
    * n_tokens·log2(corpus) in the long sum — see [[unigramLogProb]].
    */
  val UnigramFpBits: Int = 38

  /** 2^38 as an exact double; the oracle twin writes the same literal. */
  val UnigramFpScale: Double = 274877906944.0

  /** Perplexity-bucket histogram (the CCNet-style head/middle/tail
    * slicing a pipeline uses to stage quality filtering): docs bucketed
    * by [[unigramLogProb]]'s bits-per-token in half-bit steps. The
    * bucket is `floor(bpt · 2)` — one multiply + floor over the
    * already-bit-identical score, so bucket membership is exact in both
    * engines. Per-bucket extremes are min/max (order-independent —
    * a double SUM would be merge-order-dependent and is deliberately
    * absent). Bounded output: the score range spans a handful of bits.
    */
  val PplBucketsPerBit = 2.0

  def pplBuckets(d: DataFrame): DataFrame =
    unigramLogProb(d)
      .select(floor(col("bits_per_token") * lit(PplBucketsPerBit))
        .cast("long").as("bucket"),
        col("bits_per_token").as("bpt"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("bpt")).as("min_bpt"), max(col("bpt")).as("max_bpt"))

  // ---- corpus audits -----------------------------------------------------

  /** Doc-length histogram per source: fixed-width `n_chars` buckets —
    * the distribution audit that catches truncated scrapes and
    * boilerplate floods before training. Integer bucket arithmetic
    * (`div`), bounded output (sources × buckets), one shuffle.
    */
  val LengthBucketWidth = 100L

  def lengthHist(d: DataFrame): DataFrame =
    d.groupBy(col("source"),
        expr(s"n_chars div $LengthBucketWidth").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Per-source doc-length quantiles (p50/p90/p99, linear
    * interpolation) plus exact mean — the size-distribution audit
    * behind chunking and packing decisions. Spark's exact `percentile`
    * and DuckDB's `quantile_cont` share the same rank-interpolation
    * arithmetic (rank = p·(n−1), lo + f·(hi−lo) over exact-integer
    * inputs) — verified bit-identical over every fixture group. The
    * exact aggregate buffers per-group value counts, which is fine for
    * bounded groups like sources; at 100 TB swap in
    * `approx_percentile` (mergeable sketch) and use THIS query at a
    * sampled SF as its calibration, the same exact-beside-estimate
    * discipline as [[vocabSketch]].
    */
  def lengthQuantiles(d: DataFrame): DataFrame =
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") /
          count(lit(1)).cast("double")).as("mean_chars"),
        percentile(col("n_chars"), lit(0.5)).as("p50"),
        percentile(col("n_chars"), lit(0.9)).as("p90"),
        percentile(col("n_chars"), lit(0.99)).as("p99"))

  /** Per-language vocabulary: exact distinct-token count next to the
    * HyperLogLog++ estimate (`approx_count_distinct`, rsd
    * [[VocabSketchRsd]]) and the relative error between them. At 100 TB
    * the exact branch is the expensive one (a (lang, token) distinct
    * shuffle); the sketch is the production path — mergeable, one pass,
    * fixed memory — and this query IS the calibration audit that says
    * what the estimate costs in accuracy. No DuckDB oracle: HLL++
    * register layouts are engine-specific, so the gate records the
    * weaker rows-only check (documented here and in docs/PLANS.md);
    * the exact column inside the query is the real cross-check.
    */
  val VocabSketchRsd = 0.02

  /** The falsifiability bound for the REGISTERED vocab query: Spark's
    * HLL++ estimate is deterministic for a given input set but
    * engine-specific, so the raw estimate can't be oracle-hashed.
    * The registered projection folds it into a verdict instead —
    * `approx_ok = rel_err <= 5·rsd` — which DuckDB predicts as TRUE
    * from first principles; an estimate drifting past 5× its
    * configured rsd is a genuine regression, and the hash compare now
    * catches it (through r9 this row carried no correctness signal at
    * all). The full-detail frame (raw estimate + realized rel_err)
    * stays available as [[vocabSketch]], bound-checked in AnalysisSpec.
    */
  val VocabApproxErrBound: Double = 5 * VocabSketchRsd

  def vocabSketch(d: DataFrame): DataFrame = {
    // r16 shape: two stacked hash aggregates instead of the
    // one-distinct-agg rewrite (which planned FOUR aggregate stages and
    // ran the HLL++ update once per TOKEN OCCURRENCE inside the
    // single-task scan stage — measured +0.45 s of the query's ~0.9 s
    // at sf0.1). HLL insertion is idempotent (same value → same hashed
    // register, max is idempotent), so sketching the per-(lang, term)
    // DISTINCT rows yields a BIT-IDENTICAL estimate while the update
    // runs once per vocabulary term; n_tokens folds back as sum(c) over
    // exact longs and vocab_exact is the group count — all three
    // outputs value-identical to the r15 form (AnalysisSpec pins the
    // estimate against the one-pass twin). Same win at 100 TB: the
    // (lang, t) partial aggregate collapses token occurrences map-side,
    // and the sketch touches vocabulary-sized data only.
    val tok = d.select(col("lang"), explode(toksCol).as("t"))
    tok.groupBy("lang", "t").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab_exact"),
        approx_count_distinct(col("t"), VocabSketchRsd).as("vocab_approx"))
      .withColumn("rel_err",
        abs(col("vocab_approx") - col("vocab_exact")).cast("double") /
          col("vocab_exact").cast("double"))
  }

  // ---- per-source corpus profile ----------------------------------------

  /** Per-source corpus report — the snapshot dashboard a pipeline runs
    * after every ingest: volume (docs, tokens, chars, mean tokens),
    * quality admission rate (EXACTLY [[qualityFilter]]'s predicate),
    * and the dominant heuristic language with its doc count. One row
    * per source.
    *
    * Scale notes: per-doc features are ENTIRELY map-side — quality is
    * the same HOF arithmetic as [[quality]], and the language winner
    * is re-derived WITHOUT the marker join: 5 langs × 8 markers are
    * literals, so per-lang hits are five `filter` folds over the token
    * array and the winner is element 1 of a sorted 5-struct
    * (−matches, lang) array (the probeCells trick — ties break
    * alphabetical, zero hits → "und", exactly [[langId]]'s semantics;
    * AnalysisSpec asserts per-doc agreement with the join-based
    * `text_langid` on the fixture). The only exchanges are the bounded
    * (source, lang) aggregate and the sources-keyed window+aggregate
    * over its sources×langs rows — at 100 TB: one narrow corpus pass
    * into a ~|sources|·6-row reduction. Means are one double division
    * over exact long sums.
    */
  def sourceProfile(d: DataFrame): DataFrame = {
    // both per-doc passes are fused kernels since r11: quality counts
    // via graft_quality_stats, the marker vote via graft_lang_id
    // (identical tie-break: matches desc, lang asc, zero hits → und)
    val qs = qualityStatsCol
    val perDoc = d
      .select(col("source"), qs.as("qs"),
        graft.functions.GraftFunctions.graftLangId(col("text"), markersLit)
          .as("lid"))
      .select(col("source"),
        col("qs.n_chars").as("n_chars"),
        col("qs.n_tokens").as("n_tokens"),
        col("qs.n_distinct").as("n_distinct"),
        col("qs.n_stopwords").as("n_stopwords"),
        col("lid.predicted_lang").as("lang"))
      .select(col("source"), col("n_chars"), col("n_tokens"), col("lang"),
        qualityScore(col("n_tokens"), col("n_stopwords"), col("n_distinct"))
          .as("q"))
    val sl = perDoc.groupBy("source", "lang").agg(
      count(lit(1)).as("docs"),
      sum(col("n_tokens")).as("toks"),
      sum(col("n_chars")).as("chars"),
      sum(when(col("q") >= QualityThreshold && col("n_tokens") >= MinTokens,
        1L).otherwise(0L)).as("pass"))
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("docs").desc, col("lang").asc)
    sl.withColumn("rk", row_number().over(bySource))
      .groupBy("source").agg(
        sum(col("docs")).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"),
        sum(col("pass")).as("n_quality_pass"),
        max(when(col("rk") === 1, col("lang"))).as("top_lang"),
        max(when(col("rk") === 1, col("docs"))).as("top_lang_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_tokens"),
        col("n_quality_pass"),
        (col("n_quality_pass").cast("double") / col("n_docs").cast("double"))
          .as("pass_rate"),
        col("top_lang"), col("top_lang_docs"))
  }

  // ---- PII audit / redaction -------------------------------------------

  /** PII detector patterns. Deliberately written in the common subset of
    * Java regex (Spark) and RE2 (DuckDB): no lookaround, no
    * backreferences, greedy leftmost-first quantifiers only — so ONE
    * pattern string drives both engines and the oracle compares the
    * same language. The fixture corpus contains no digits or '@', so
    * the registered audit binds structurally (per-source rollup shape,
    * zero counts asserted as facts); AnalysisSpec injects synthetic PII
    * to exercise detection and redaction — same honesty rule as the
    * non-binding MinTokens guard.
    */
  // Canonical pattern strings live with the fused kernel
  // (graft.functions.PiiScan) so the Column chain, the kernel, and the
  // oracle SQL compile the same source; aliased here for the oracle
  // builders and the parity specs.
  val EmailPattern = graft.functions.PiiScan.EmailPattern
  val Ipv4Pattern = graft.functions.PiiScan.Ipv4Pattern
  val PhonePattern = graft.functions.PiiScan.PhonePattern

  /** Redaction chain: email → IPv4 → phone. Order matters only for the
    * engineered case where one span embeds another; the replacement
    * tokens contain no digits or '@', so the chain is idempotent
    * (spec-pinned). Map-side only — a narrow projection at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "[EMAIL]"),
        Ipv4Pattern, "[IP]"),
      PhonePattern, "[PHONE]")

  /** Deterministic PII injection for the REGISTERED redaction query:
    * the fixture corpus carries no digits or '@' (see pattern note
    * above), so a redaction over raw fixture text would bind only
    * structurally. Appending one synthetic email + IPv4 + phone per
    * doc — pure string functions of doc_id, mirrored verbatim in the
    * oracle — makes every row carry real matches, so the hash compare
    * proves DETECTION (counts of 1, not 0) and REPLACEMENT (the
    * redacted string content) rather than a no-op pass-through.
    */
  private def piiInjected: Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com via "),
      lit("10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
      pmod(col("doc_id"), lit(100)).cast("string"),
      lit(" tel +41 555 010 "),
      lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"))

  /** The APPLY step beside [[piiAudit]]: per-doc match counts on the
    * injected text plus the fully redacted string. Map-side only at
    * any scale; since r11 the six-expression regex chain is ONE fused
    * `graft_pii_scan` kernel call (one String conversion, five matcher
    * passes, no match-array materialization — ~4× the chain's per-core
    * throughput at sf10). AnalysisSpec pins kernel ≡ Column chain,
    * including the email-local-part-as-IPv4 overlap where the
    * count/replace subjects genuinely diverge.
    */
  def piiRedact(d: DataFrame): DataFrame = {
    val p = graft.functions.GraftFunctions.graftPiiScan(piiInjected)
    d.select(col("doc_id"),
      p.getField("n_emails").as("n_emails"),
      p.getField("n_phones").as("n_phones"),
      p.getField("n_ipv4").as("n_ipv4"),
      p.getField("redacted").as("redacted"))
  }

  /** Per-source PII exposure report: doc counts, docs carrying any PII,
    * and per-category match totals. One narrow corpus scan (three
    * codegen'd regex counters per row) into a |sources|-row aggregate —
    * the audit a pipeline runs BEFORE deciding to redact or drop.
    */
  def piiAudit(d: DataFrame): DataFrame = {
    // count-only regex kernels since r11: same three passes, none of
    // the discarded match-array allocations
    import graft.functions.GraftFunctions.graftRegexCount
    val perDoc = d.select(col("source"),
      graftRegexCount(col("text"), lit(EmailPattern)).as("e"),
      graftRegexCount(col("text"), lit(PhonePattern)).as("p"),
      graftRegexCount(col("text"), lit(Ipv4Pattern)).as("i"))
    perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("e") + col("p") + col("i") > 0, 1L).otherwise(0L))
        .as("docs_with_pii"),
      sum(col("e")).as("n_emails"),
      sum(col("p")).as("n_phones"),
      sum(col("i")).as("n_ipv4"))
  }

  // ---- staged filter funnel --------------------------------------------

  /** First-failing-stage thresholds. Chosen to BIND on the fixtures
    * (token counts span 10–99 with median ~56; type-token ratio spans
    * 0.26–1.0 with median ~0.46; quality spans 0.51–0.78), so every
    * stage has traffic on both sides of its bar.
    */
  val FunnelMinTokens = 25L
  val FunnelMinTtr = 0.35
  /** Stage labels carry their ordinal so lexicographic order IS funnel
    * order and the output needs no separate sort key.
    */
  val FunnelStages: Seq[String] =
    Seq("1_too_short", "2_low_diversity", "3_low_quality", "4_passed")

  /** Staged quality-filter audit (the per-stage drop accounting every
    * production cleaning pipeline publishes): each doc is charged to the
    * FIRST stage that rejects it, so stage counts sum to the corpus and
    * no drop is double-counted or silent. One corpus scan computing the
    * shared quality features, a 4-group aggregate, and a dense
    * stage-grid left join (absent stages surface as explicit zeros).
    * The share division is one double op over exact longs; the window
    * total runs over the 4-row grid, never the corpus.
    */
  def filterFunnel(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    // two-step select binds the kernel once regardless of codegen
    // (see quality() for why)
    val feat = d.select(qualityStatsCol.as("qs"))
      .select(col("qs.n_chars").as("n_chars"),
        col("qs.n_tokens").as("n_tokens"),
        col("qs.n_distinct").as("n_distinct"),
        col("qs.n_stopwords").as("n_stopwords"))
    val ttr = col("n_distinct").cast("double") / col("n_tokens").cast("double")
    val q = qualityScore(col("n_tokens"), col("n_stopwords"), col("n_distinct"))
    val staged = feat.select(col("n_chars"),
      when(col("n_tokens") < FunnelMinTokens, FunnelStages(0))
        .when(ttr < FunnelMinTtr, FunnelStages(1))
        .when(q < QualityThreshold, FunnelStages(2))
        .otherwise(FunnelStages(3)).as("stage"))
    val counts = staged.groupBy("stage").agg(
      count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val grid = FunnelStages.toDF("stage")
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)) // 4-row frame: the total is a grid-local sum
    grid.join(counts, Seq("stage"), "left")
      .select(col("stage"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"))
      .withColumn("share",
        col("n_docs").cast("double") / sum(col("n_docs")).over(all).cast("double"))
  }

  // ---- dataset card ------------------------------------------------------

  /** One-row dataset card — the headline numbers a corpus release
    * publishes (and the cheapest cross-check that an ingest produced
    * the corpus you think it did): volumes, vocabulary-bearing distinct
    * counts, and the exact-duplicate rate. All counts are exact longs;
    * the two ratios are single double divisions.
    *
    * Scale notes: one corpus scan into a global aggregate. The three
    * DISTINCT aggregates (langs, sources, normalized-text hashes) make
    * Catalyst plan an Expand (×3 row multiplication into the partial
    * aggregate) — acceptable for a card run once per release; the
    * distinct text hash is computed map-side (sha-256), so text never
    * shuffles. For a daily card over a petabyte, swap the distincts for
    * approx_count_distinct and keep this exact form as the calibration
    * twin (the `text_vocab_sketch` pattern).
    */
  def datasetCard(d: DataFrame): DataFrame =
    d.select(col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        size(toksCol).cast("long").as("n_tokens"),
        sha2(lower(col("text")), 256).as("th"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        (count(lit(1)) - count_distinct(col("th"))).as("n_exact_dup_docs"))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_doc_tokens"),
        col("n_langs"), col("n_sources"), col("n_exact_dup_docs"),
        (col("n_exact_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"))

  /** Queries whose reduce side sorts the full token-level explosion
    * (tf ≈ hundreds of term rows per document, then a per-term window
    * and a per-doc ordered fold). At 32 reduce partitions × sf100 the
    * 32 concurrent sorters exhaust the execution pool outright
    * (UNABLE_TO_ACQUIRE_MEMORY in growPointerArrayIfNecessary under
    * the 32 MB page pin; the same stage passes with Spark's native
    * page sizing only because 256 MB pages hit the pool's task-share
    * wall later) — the same shape [[graft.dedup.Dedup.pairShuffleConf]]
    * fixed for posting explosions, so the fix is the same scoped conf:
    * reduce tasks ∝ documents bytes, AQE coalescing pinned off. Values
    * are partition-count-invariant: each output row is a per-doc
    * canonical ordered fold (unigram) or an order-free min/max/count
    * bucket merge (ppl) — checked by a conf-on vs conf-off sym-diff at
    * sf10 before graduation (docs/BENCH_NOTES.md r15).
    */
  val specs: Map[String, graft.QuerySpec] =
    Seq("text_unigram_logprob", "text_ppl_buckets").map(_ ->
      graft.QuerySpec(conf = graft.dedup.Dedup.pairShuffleConf)).toMap

  // ---- registry ---------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "text_langid" -> ((s, dir) => langId(docs(s, dir)).orderBy("doc_id")),
    "text_quality" -> ((s, dir) => quality(docs(s, dir)).orderBy("doc_id")),
    "text_quality_filter" -> ((s, dir) =>
      qualityFilter(docs(s, dir)).orderBy("doc_id")),
    "text_token_stats" -> ((s, dir) => tokenStats(docs(s, dir)).orderBy("doc_id")),
    "text_fingerprint" -> ((s, dir) => fingerprints(docs(s, dir)).orderBy("doc_id")),
    "text_top_bigrams" -> ((s, dir) =>
      topBigrams(docs(s, dir)).orderBy("lang", "rank")),
    "text_chunk" -> ((s, dir) =>
      chunk(docs(s, dir)).orderBy("doc_id", "chunk_id")),
    "text_chunk_dedup" -> ((s, dir) =>
      chunkDedup(docs(s, dir)).orderBy("chunk_hash")),
    "text_tfidf" -> ((s, dir) =>
      tfidf(docs(s, dir)).orderBy("doc_id", "rank")),
    "text_length_hist" -> ((s, dir) =>
      lengthHist(docs(s, dir)).orderBy("source", "bucket")),
    "text_length_quantiles" -> ((s, dir) =>
      lengthQuantiles(docs(s, dir)).orderBy("source")),
    "text_vocab_sketch" -> ((s, dir) =>
      vocabSketch(docs(s, dir))
        .select(col("lang"), col("n_tokens"), col("vocab_exact"),
          (col("rel_err") <= lit(VocabApproxErrBound)).as("approx_ok"))
        .orderBy("lang")),
    "text_repetition" -> ((s, dir) =>
      repetition(docs(s, dir)).orderBy("doc_id")),
    "text_pack" -> ((s, dir) =>
      pack(docs(s, dir)).orderBy("source", "bin")),
    "text_unigram_logprob" -> ((s, dir) =>
      unigramLogProb(docs(s, dir)).orderBy("doc_id")),
    "text_source_profile" -> ((s, dir) =>
      sourceProfile(docs(s, dir)).orderBy("source")),
    "text_pii_audit" -> ((s, dir) =>
      piiAudit(docs(s, dir)).orderBy("source")),
    "text_pii_redact" -> ((s, dir) =>
      piiRedact(docs(s, dir)).orderBy("doc_id")),
    "text_filter_funnel" -> ((s, dir) =>
      filterFunnel(docs(s, dir)).orderBy("stage")),
    "text_ppl_buckets" -> ((s, dir) =>
      pplBuckets(docs(s, dir)).orderBy("bucket")),
    "text_dataset_card" -> ((s, dir) => datasetCard(docs(s, dir))),
    "text_langid_eval" -> ((s, dir) =>
      langIdEval(docs(s, dir)).orderBy("actual_lang", "predicted_lang"))
  )

  // ---- DuckDB oracle SQL ------------------------------------------------

  private val markerValues: String =
    Markers.flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }
      .mkString(", ")

  private val dCte: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |         list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                     t -> length(t) > 0) AS toks
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0
      |)""".stripMargin

  private val stopList: String =
    QualityStopwords.map(s => "'" + s + "'").mkString("(", ",", ")")

  /** [[portableLog2]] as a DuckDB expression over `x`: the identical
    * 89-step BRANCHLESS fold, op-for-op (see the portableLog2 scaladoc
    * for why no CASE may appear inside this lambda — DuckDB 1.0.0
    * miscomputes divergent branches over list accumulators). DuckDB's
    * `list_reduce` has no initial-value form, so the init state is
    * PREPENDED and the step elements carry their index in slot 1
    * (mirroring Spark's `sequence`-driven lambda index). Every literal
    * is CAST to DOUBLE — DuckDB parses bare decimals as DECIMAL,
    * whose arithmetic would diverge.
    */
  private def plog2Sql(x: String): String = {
    val d1 = "CAST(1 AS DOUBLE)"; val d2 = "CAST(2 AS DOUBLE)"
    val p1 = s"CAST(nxt[1] <= CAST(64 AS DOUBLE) AS DOUBLE)"
    val p2 = s"CAST(nxt[1] > CAST(64 AS DOUBLE) AND nxt[1] <= CAST(88 AS DOUBLE) AS DOUBLE)"
    val p3 = s"CAST(nxt[1] > CAST(88 AS DOUBLE) AS DOUBLE)"
    val a = s"CAST(st[1] < $d1 AS DOUBLE)"
    val b = s"CAST(st[1] >= $d2 AS DOUBLE)"
    val c = s"CAST(st[1] * st[1] >= $d2 AS DOUBLE)"
    s"""list_reduce(
       |    list_prepend([$x, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0.5 AS DOUBLE)],
       |      list_transform(range(1, 90),
       |        i -> [CAST(i AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
       |    (st, nxt) -> [
       |      $p1 * (st[1] * ($d1 + $a) * ($d1 - $b / $d2))
       |        + $p2 * (st[1] * st[1] * ($d1 - $c / $d2))
       |        + $p3 * (st[2] + st[3]),
       |      st[2] + $p1 * ($b - $a),
       |      st[3] + $p2 * st[4] * $c,
       |      st[4] / ($d1 + $p2)
       |    ])[1]""".stripMargin
  }

  /** The [[langId]] chain as CTEs ending in lid(doc_id, predicted_lang,
    * matches) — shared by the per-doc listing and the confusion-matrix
    * eval oracles.
    */
  private val langidCtes: String =
    s"""$dCte, markers(mlang, t) AS (VALUES $markerValues),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
       |hits AS (
       |  SELECT doc_id, mlang, count(*) AS matches
       |  FROM tok JOIN markers USING (t) GROUP BY 1, 2
       |), best AS (
       |  SELECT doc_id, mlang, matches FROM (
       |    SELECT doc_id, mlang, matches,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY matches DESC, mlang ASC) AS rn
       |    FROM hits) WHERE rn = 1
       |), lid AS (
       |  SELECT d.doc_id,
       |         coalesce(best.mlang, 'und') AS predicted_lang,
       |         coalesce(best.matches, 0) AS matches
       |  FROM d LEFT JOIN best ON d.doc_id = best.doc_id
       |)""".stripMargin

  /** The [[chunk]] chain as CTEs ending in ch(doc_id, chunk_id,
    * start_tok, n_tokens, chunk_text) — shared by the chunk listing and
    * the chunk-level dedup oracles.
    */
  private val chunkCtes: String =
    s"""$dCte, starts AS (
       |  SELECT doc_id, toks,
       |         unnest(generate_series(0,
       |           greatest(0, len(toks) - $ChunkTokens) // $ChunkStride +
       |           CASE WHEN greatest(0, len(toks) - $ChunkTokens) % $ChunkStride > 0 THEN 1 ELSE 0 END)) AS k
       |  FROM d
       |), ch AS (
       |  SELECT doc_id,
       |         CAST(k AS INT) AS chunk_id,
       |         CAST(k * $ChunkStride + 1 AS INT) AS start_tok,
       |         CAST(least($ChunkTokens, len(toks) - (k * $ChunkStride + 1) + 1) AS BIGINT) AS n_tokens,
       |         array_to_string(list_slice(toks, k * $ChunkStride + 1,
       |           k * $ChunkStride + $ChunkTokens), ' ') AS chunk_text
       |  FROM starts
       |)""".stripMargin

  /** The [[unigramLogProb]] chain as CTEs ending in
    * ul(doc_id, n_tokens, sum_log2p, bits_per_token) — shared by the
    * per-doc score oracle and the perplexity-bucket histogram. The
    * fixed-point arithmetic is mirrored op-for-op: same vocab-level
    * `floor(plog2·2^38 + 0.5)` quantization (the 2^38 literal is the
    * exact integer, both engines' double product/floor are identical
    * IEEE ops), same integer Σ tf·q (exact in any order — DuckDB's
    * HUGEINT sum is narrowed back to BIGINT inside the envelope), same
    * single double division + lg_tot product at the end.
    */
  private val unigramCtes: String =
    s"""$dCte, tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
       |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
       |q AS (
       |  SELECT t,
       |         CAST(floor(${plog2Sql("CAST(cnt AS DOUBLE)")}
       |           * CAST(274877906944 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
       |  FROM (SELECT t, count(*) AS cnt FROM tok GROUP BY 1)
       |), ltot AS (
       |  SELECT ${plog2Sql("CAST(tot AS DOUBLE)")} AS lg_tot
       |  FROM (SELECT CAST(sum(len(toks)) AS BIGINT) AS tot FROM d)
       |), pd AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |         CAST(sum(tf * q) AS BIGINT) AS sfp
       |  FROM tf JOIN q USING (t) GROUP BY doc_id
       |), pj AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(sfp AS DOUBLE) / CAST(274877906944 AS DOUBLE)
       |           - CAST(n_tokens AS DOUBLE) * lg_tot AS sum_log2p
       |  FROM pd, ltot
       |), ul AS (
       |  SELECT d.doc_id,
       |         coalesce(pj.n_tokens, 0) AS n_tokens,
       |         coalesce(pj.sum_log2p, CAST(0 AS DOUBLE)) AS sum_log2p,
       |         CASE WHEN coalesce(pj.n_tokens, 0) > 0
       |              THEN -(pj.sum_log2p / CAST(pj.n_tokens AS DOUBLE))
       |              ELSE CAST(0 AS DOUBLE) END AS bits_per_token
       |  FROM d LEFT JOIN pj USING (doc_id)
       |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "text_langid" ->
      s"""$langidCtes
         |SELECT doc_id, predicted_lang, matches FROM lid
         |ORDER BY doc_id""".stripMargin,
    "text_langid_eval" ->
      s"""$langidCtes
         |SELECT dd.lang AS actual_lang, lid.predicted_lang, count(*) AS n
         |FROM lid JOIN documents dd ON dd.doc_id = lid.doc_id
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "text_quality" ->
      s"""$dCte, base AS (
         |  SELECT doc_id,
         |         CAST(length(text) AS BIGINT) AS n_chars,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |         CAST(len(list_filter(toks, t -> t IN $stopList)) AS BIGINT) AS n_stopwords,
         |         CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, b) -> a + b) AS BIGINT) AS token_chars
         |  FROM d
         |), feat AS (
         |  SELECT doc_id, n_chars, n_tokens, n_distinct,
         |         CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
         |         CAST(token_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_token_len,
         |         CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio
         |  FROM base
         |)
         |SELECT doc_id, n_chars, n_tokens, n_distinct, stopword_ratio,
         |       mean_token_len, type_token_ratio,
         |       CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |           CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE))
         |         + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - stopword_ratio)
         |         + CAST(0.3 AS DOUBLE) * type_token_ratio AS quality_score
         |FROM feat ORDER BY doc_id""".stripMargin,
    "text_quality_filter" ->
      s"""$dCte, base AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |         CAST(len(list_filter(toks, t -> t IN $stopList)) AS BIGINT) AS n_stopwords
         |  FROM d
         |), feat AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |             CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE))
         |           + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
         |               - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |           + CAST(0.3 AS DOUBLE)
         |               * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS quality_score
         |  FROM base
         |)
         |SELECT doc_id, n_tokens, quality_score FROM feat
         |WHERE quality_score >= CAST($QualityThreshold AS DOUBLE) AND n_tokens >= $MinTokens
         |ORDER BY doc_id""".stripMargin,
    "text_token_stats" ->
      s"""$dCte
         |SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(lower(text), '$BpeishPattern')) AS BIGINT) AS regex_tokens,
         |       CAST(ceil(CAST(length(text) AS DOUBLE) / CAST(4.0 AS DOUBLE)) AS BIGINT) AS est_bpe_tokens
         |FROM d ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""$dCte, sh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(toks) < $FpShingleSize THEN []
         |              ELSE list_transform(generate_series(1, len(toks) - ${FpShingleSize - 1}),
         |                     i -> array_to_string(list_slice(toks, i, i + ${FpShingleSize - 1}), ' '))
         |         END AS shingles,
         |         toks
         |  FROM d
         |)
         |SELECT doc_id,
         |       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS bow_fp,
         |       array_to_string(list_slice(list_sort(list_transform(shingles, s -> md5(s))), 1, $WinnowK), '') AS winnow_fp
         |FROM sh ORDER BY doc_id""".stripMargin,
    "text_top_bigrams" ->
      s"""WITH dl AS (
         |  SELECT lang,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     t -> length(t) > 0) AS toks
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0
         |), bi AS (
         |  SELECT lang, array_to_string(list_slice(toks, i, i + 1), ' ') AS bigram
         |  FROM dl, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i)
         |), counts AS (
         |  SELECT lang, bigram, count(*) AS n FROM bi GROUP BY 1, 2
         |)
         |SELECT lang, bigram, n, rank FROM (
         |  SELECT lang, bigram, n,
         |         CAST(row_number() OVER (PARTITION BY lang
         |           ORDER BY n DESC, bigram ASC) AS INT) AS rank
         |  FROM counts)
         |WHERE rank <= $TopBigramsK
         |ORDER BY lang, rank""".stripMargin,
    // Same integer start arithmetic: starts k·S+1 for k in 0..⌈max(0,
    // len−C)/S⌉ (// is DuckDB integer division — no float rounding).
    "text_chunk" ->
      s"""$chunkCtes
         |SELECT doc_id, chunk_id, start_tok, n_tokens, chunk_text
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
    // same window-arg-min keeper as the Spark side; sha256 of the
    // chunk text digests the same utf8 bytes in both engines
    "text_chunk_dedup" ->
      s"""$chunkCtes, hd AS (
         |  SELECT sha256(chunk_text) AS chunk_hash, doc_id, chunk_id,
         |         min(doc_id) OVER (PARTITION BY sha256(chunk_text)) AS kd
         |  FROM ch
         |)
         |SELECT chunk_hash,
         |       count(*) AS n_copies,
         |       count(DISTINCT doc_id) AS n_docs,
         |       min(doc_id) AS keep_doc_id,
         |       CAST(min(CASE WHEN doc_id = kd THEN chunk_id END) AS BIGINT)
         |         AS keep_chunk_id
         |FROM hd GROUP BY 1 ORDER BY chunk_hash""".stripMargin,
    // own CTE: needs lang/source, which dCte prunes away
    "text_dataset_card" ->
      s"""WITH f AS (
         |  SELECT lang, source,
         |         CAST(length(text) AS BIGINT) AS n_chars,
         |         CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                              t -> length(t) > 0)) AS BIGINT) AS n_tokens,
         |         sha256(lower(text)) AS th
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0
         |), a AS (
         |  SELECT count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |         count(DISTINCT lang) AS n_langs,
         |         count(DISTINCT source) AS n_sources,
         |         count(*) - count(DISTINCT th) AS n_exact_dup_docs
         |  FROM f
         |)
         |SELECT n_docs, n_tokens, n_chars,
         |       CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |         AS mean_doc_tokens,
         |       n_langs, n_sources, n_exact_dup_docs,
         |       CAST(n_exact_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |         AS dup_rate
         |FROM a""".stripMargin,
    // Linear idf (tf·N/df): exact integer product, ONE double division —
    // bit-identical across engines, unlike libm ln (see tfidf scaladoc).
    "text_tfidf" ->
      s"""$dCte, tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
         |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfx AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM d)
         |SELECT doc_id, term, tf, df, score, rank FROM (
         |  SELECT tf.doc_id AS doc_id, tf.t AS term, tf.tf AS tf, dfx.df AS df,
         |         CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfx.df AS DOUBLE) AS score,
         |         CAST(row_number() OVER (PARTITION BY tf.doc_id
         |           ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfx.df AS DOUBLE) DESC,
         |                    tf.t ASC) AS INT) AS rank
         |  FROM tf JOIN dfx USING (t), n)
         |WHERE rank <= $TfIdfK
         |ORDER BY doc_id, rank""".stripMargin,
    "text_length_hist" ->
      s"""SELECT source, n_chars // $LengthBucketWidth AS bucket,
         |       count(*) AS n_docs,
         |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
         |FROM documents
         |WHERE text IS NOT NULL AND length(text) > 0
         |GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin,
    // quantile_cont shares Spark percentile's exact rank-interpolation
    // arithmetic (verified bit-identical over every fixture group)
    "text_length_quantiles" ->
      s"""SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chars,
         |       quantile_cont(n_chars, CAST(0.5 AS DOUBLE)) AS p50,
         |       quantile_cont(n_chars, CAST(0.9 AS DOUBLE)) AS p90,
         |       quantile_cont(n_chars, CAST(0.99 AS DOUBLE)) AS p99
         |FROM documents
         |WHERE text IS NOT NULL AND length(text) > 0
         |GROUP BY source ORDER BY source""".stripMargin,
    // Same tagged (n, gram) decomposition as the Spark side; fractions
    // are one double division over exact BIGINT counts in both engines.
    "text_repetition" ->
      s"""$dCte, grams AS (
         |  SELECT doc_id, 2 AS n,
         |         array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
         |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i)
         |  UNION ALL
         |  SELECT doc_id, 3 AS n,
         |         array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
         |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i)
         |), counts AS (
         |  SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3
         |), per AS (
         |  SELECT doc_id, n,
         |         CAST(sum(c) AS BIGINT) AS positions,
         |         CAST(max(c) AS BIGINT) AS top,
         |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup
         |  FROM counts GROUP BY 1, 2
         |), wide AS (
         |  SELECT doc_id,
         |         max(CASE WHEN n = 2 THEN positions END) AS b_pos,
         |         max(CASE WHEN n = 2 THEN top END) AS b_top,
         |         max(CASE WHEN n = 3 THEN positions END) AS t_pos,
         |         max(CASE WHEN n = 3 THEN dup END) AS t_dup
         |  FROM per GROUP BY doc_id
         |), joined AS (
         |  SELECT d.doc_id,
         |         coalesce(b_pos, 0) AS n_bigrams,
         |         coalesce(b_top, 0) AS top_bigram_n,
         |         coalesce(t_pos, 0) AS n_trigrams,
         |         coalesce(t_dup, 0) AS dup_trigram_n
         |  FROM d LEFT JOIN wide ON d.doc_id = wide.doc_id
         |)
         |SELECT doc_id, n_bigrams, top_bigram_n, n_trigrams, dup_trigram_n,
         |       CASE WHEN n_bigrams > 0
         |            THEN CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         |            ELSE CAST(0.0 AS DOUBLE) END AS top_bigram_frac,
         |       CASE WHEN n_trigrams > 0
         |            THEN CAST(dup_trigram_n AS DOUBLE) / CAST(n_trigrams AS DOUBLE)
         |            ELSE CAST(0.0 AS DOUBLE) END AS dup_trigram_frac
         |FROM joined ORDER BY doc_id""".stripMargin,
    // Same shard-local running sum; // is DuckDB integer division, the
    // twin of Spark's `div` — bin arithmetic never touches a float.
    "text_pack" ->
      s"""WITH dl AS (
         |  SELECT source, doc_id,
         |         CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                              t -> length(t) > 0)) AS BIGINT) AS n_toks
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0
         |), c AS (
         |  SELECT source, doc_id, n_toks,
         |         CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM dl
         |), b AS (
         |  SELECT source, n_toks,
         |         (cum - n_toks) // $PackBudget AS bin,
         |         (cum - 1) // $PackBudget AS end_bin
         |  FROM c
         |)
         |SELECT source, bin, count(*) AS n_docs,
         |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN end_bin > bin THEN 1 ELSE 0 END) AS BIGINT) AS n_spill
         |FROM b GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
    // Same tf/cnt/tot integer chain; the log is the portable fold
    // (plog2Sql ≡ portableLog2 op-for-op), the per-doc sum is the
    // list_prepend(0)+list_reduce in-TERM-order fold mirroring Spark's
    // zero-init aggregate over the array_sort'ed struct list.
    "text_unigram_logprob" ->
      s"""$unigramCtes
         |SELECT doc_id, n_tokens, sum_log2p, bits_per_token
         |FROM ul ORDER BY doc_id""".stripMargin,
    // floor over the already-bit-identical score — bucket membership is
    // exact; extremes are order-independent (no double SUM)
    "text_ppl_buckets" ->
      s"""$unigramCtes
         |SELECT CAST(floor(bits_per_token
         |           * CAST($PplBucketsPerBit AS DOUBLE)) AS BIGINT) AS bucket,
         |       count(*) AS n_docs,
         |       min(bits_per_token) AS min_bpt,
         |       max(bits_per_token) AS max_bpt
         |FROM ul GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same map-side feature arithmetic; the lang winner mirrors the
    // sorted (−matches, lang) struct-array trick (DuckDB sorts structs
    // field-lexicographically, same as Spark's array_sort).
    "text_source_profile" ->
      s"""WITH dd AS (
         |  SELECT source, text,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     t -> length(t) > 0) AS toks
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0
         |), lw AS (
         |  SELECT source,
         |         CAST(length(text) AS BIGINT) AS n_chars,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |         CAST(len(list_filter(toks, t -> t IN $stopList)) AS BIGINT) AS n_stopwords,
         |         list_sort([${Markers.map { case (l, ws) =>
               s"struct_pack(neg := -len(list_filter(toks, t -> t IN (${
                 ws.map(w => s"'$w'").mkString(",")}))), lang := '$l')"
             }.mkString(", ")}])[1] AS w
         |  FROM dd
         |), pd AS (
         |  SELECT source, n_chars, n_tokens,
         |         CASE WHEN w.neg = 0 THEN 'und' ELSE w.lang END AS lang,
         |         CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |             CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE))
         |           + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
         |               - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |           + CAST(0.3 AS DOUBLE)
         |               * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS q
         |  FROM lw
         |), sl AS (
         |  SELECT source, lang, count(*) AS docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS toks,
         |         CAST(sum(n_chars) AS BIGINT) AS chars,
         |         CAST(sum(CASE WHEN q >= CAST($QualityThreshold AS DOUBLE)
         |                        AND n_tokens >= $MinTokens
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS pass
         |  FROM pd GROUP BY 1, 2
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY docs DESC, lang ASC) AS rk
         |  FROM sl
         |)
         |SELECT source,
         |       CAST(sum(docs) AS BIGINT) AS n_docs,
         |       CAST(sum(toks) AS BIGINT) AS n_tokens,
         |       CAST(sum(chars) AS BIGINT) AS n_chars,
         |       CAST(sum(toks) AS DOUBLE) / CAST(sum(docs) AS DOUBLE) AS mean_tokens,
         |       CAST(sum(pass) AS BIGINT) AS n_quality_pass,
         |       CAST(sum(pass) AS DOUBLE) / CAST(sum(docs) AS DOUBLE) AS pass_rate,
         |       max(CASE WHEN rk = 1 THEN lang END) AS top_lang,
         |       CAST(max(CASE WHEN rk = 1 THEN docs END) AS BIGINT) AS top_lang_docs
         |FROM rk GROUP BY source
         |ORDER BY source""".stripMargin,
    // PII patterns are written in the Java-regex ∩ RE2 subset, so the
    // pattern STRINGS are shared verbatim with the Spark plan.
    "text_pii_audit" ->
      s"""WITH pd AS (
         |  SELECT source,
         |         CAST(len(regexp_extract_all(text, '$EmailPattern')) AS BIGINT) AS e,
         |         CAST(len(regexp_extract_all(text, '$PhonePattern')) AS BIGINT) AS p,
         |         CAST(len(regexp_extract_all(text, '$Ipv4Pattern')) AS BIGINT) AS i
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0
         |)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS docs_with_pii,
         |       CAST(sum(e) AS BIGINT) AS n_emails,
         |       CAST(sum(p) AS BIGINT) AS n_phones,
         |       CAST(sum(i) AS BIGINT) AS n_ipv4
         |FROM pd GROUP BY source ORDER BY source""".stripMargin,
    // injection construction mirrored verbatim; DuckDB regexp_replace
    // needs the explicit 'g' flag to match Spark's replace-all
    "text_pii_redact" ->
      s"""WITH inj AS (
         |  SELECT doc_id,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR)
         |           || '@example.com via '
         |           || '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
         |           || CAST(doc_id % 100 AS VARCHAR)
         |           || ' tel +41 555 010 '
         |           || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0
         |)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(t, '$EmailPattern')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(t, '$PhonePattern')) AS BIGINT) AS n_phones,
         |       CAST(len(regexp_extract_all(t, '$Ipv4Pattern')) AS BIGINT) AS n_ipv4,
         |       regexp_replace(
         |         regexp_replace(
         |           regexp_replace(t, '$EmailPattern', '[EMAIL]', 'g'),
         |           '$Ipv4Pattern', '[IP]', 'g'),
         |         '$PhonePattern', '[PHONE]', 'g') AS redacted
         |FROM inj ORDER BY doc_id""".stripMargin,
    "text_filter_funnel" ->
      s"""$dCte, feat AS (
         |  SELECT CAST(length(text) AS BIGINT) AS n_chars,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |         CAST(len(list_filter(toks, t -> t IN $stopList)) AS BIGINT) AS n_stopwords
         |  FROM d
         |), staged AS (
         |  SELECT n_chars,
         |    CASE WHEN n_tokens < $FunnelMinTokens THEN '${FunnelStages(0)}'
         |         WHEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |              < CAST($FunnelMinTtr AS DOUBLE) THEN '${FunnelStages(1)}'
         |         WHEN CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
         |                CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE))
         |              + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
         |                  - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |              + CAST(0.3 AS DOUBLE)
         |                  * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |              < CAST($QualityThreshold AS DOUBLE) THEN '${FunnelStages(2)}'
         |         ELSE '${FunnelStages(3)}' END AS stage
         |  FROM feat
         |), cnt AS (
         |  SELECT stage, count(*) AS n_docs,
         |         CAST(sum(n_chars) AS BIGINT) AS n_chars
         |  FROM staged GROUP BY 1
         |), stages(stage) AS (VALUES ${FunnelStages.map(st => s"('$st')").mkString(", ")})
         |SELECT s.stage,
         |       coalesce(cnt.n_docs, 0) AS n_docs,
         |       coalesce(cnt.n_chars, 0) AS n_chars,
         |       CAST(coalesce(cnt.n_docs, 0) AS DOUBLE)
         |         / CAST(sum(coalesce(cnt.n_docs, 0)) OVER () AS DOUBLE) AS share
         |FROM stages s LEFT JOIN cnt USING (stage)
         |ORDER BY stage""".stripMargin,
    // The exact columns are plain SQL; the HLL++ estimate enters as the
    // `approx_ok` verdict, which DuckDB predicts TRUE from first
    // principles (bound = 5×rsd, see VocabApproxErrBound) — so a Spark
    // estimate drifting out of tolerance hash-mismatches this row.
    "text_vocab_sketch" ->
      """WITH t AS (
        |  SELECT lang,
        |         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            t -> length(t) > 0)) AS tok
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0
        |)
        |SELECT lang, count(*) AS n_tokens,
        |       count(DISTINCT tok) AS vocab_exact,
        |       TRUE AS approx_ok
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin
  )
}
