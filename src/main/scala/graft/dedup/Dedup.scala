package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.text.Tokenize

/** Deduplication operators for LLM-training-data pipelines over the
  * `documents` fixture: exact (hash-groupBy), MinHash+LSH banded candidate
  * generation, SimHash signatures + hamming-banded pairs, and n-gram
  * Jaccard verification via an inverted shingle index.
  *
  * Cross-engine determinism: in the default (oracle) mode every hash
  * bottoms out in md5 (identical lowercase-hex output in Spark and
  * DuckDB). MinHash derives ONE 28-bit base integer per shingle from
  * the md5 prefix (Spark: the codegen'd [[graft.functions.Md5Prefix64]]
  * bit slice; DuckDB oracle: positional digit arithmetic — same value)
  * and expands it through k affine transforms
  * mod a 31-bit prime, the classic universal-hash family — one md5 per
  * shingle instead of k. SimHash bits are shift/mask slices of the same
  * md5-prefix long (the oracle's strpos digit arithmetic evaluates to
  * identical values). Setting
  * [[graft.functions.PortableHash.ConfKey]] swaps the candidate hashes
  * for codegen'd xxhash64 (production mode — see PortableHash for the
  * scope rationale); ProductionHashSpec pins that plan shapes are
  * identical in both modes.
  *
  * Scale notes (100 TB posture):
  *  - exact dedup: one shuffle keyed on the text hash; map-side partial
  *    aggregation collapses duplicates before the exchange.
  *  - MinHash: signatures are ONE groupBy(doc_id) with k min-aggregates
  *    straight off the raw shingle explode (partial aggs collapse
  *    map-side); candidate pairs expand inside each (band, signature)
  *    bucket row — never an all-pairs product, never a self-join. A
  *    bucket-size cap bounds the per-bucket quadratic blowup on
  *    degenerate buckets (e.g. boilerplate-heavy corpora).
  *  - n-gram Jaccard: df-capped inverted index over hashed shingles,
  *    then PPJoin prefix filtering — only each doc's first
  *    n−⌊t·n⌋+1 sorted hash keys enter the candidate index, and
  *    verification runs inside the pair expansion via array_intersect
  *    on the carried per-doc sets; a linear join-free chain with no
  *    exhaustive posting-pair stream (carried-set trade disclosed at
  *    the operator).
  *  - decontamination: the tiny eval set's keys BROADCAST into a
  *    semi-join — the corpus never shuffles for the membership test.
  *  - SimHash pairs: 16-bit chunk banding (pigeonhole: hamming ≤ 3 over
  *    64 bits guarantees ≥1 of 4 chunks equal), then exact hamming as
  *    XOR + bit_count on the chunk ints — aggs + in-bucket expansion
  *    only, no self-join.
  */
object Dedup {

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4 // NumHashes = Bands * RowsPerBand
  val ShingleSize = 3
  val SimHashBits = 64
  val MaxHamming = 3
  val JaccardThreshold = 0.8
  /** Shingles appearing in more docs than this are dropped from the
    * inverted index (and, symmetrically, from the compared sets).
    * DEFAULT for the registered queries; [[ngramJaccard]] takes it as a
    * parameter. Scale guidance: a posting list of df docs expands
    * df·(df−1)/2 candidate pairs per shingle — at web scale (boilerplate,
    * license headers, navigation chrome) set this to O(100) or lower, or
    * add prefix filtering; ultra-common shingles carry no dedup signal
    * anyway. Truncation is OBSERVABLE, not silent: [[bucketStats]] /
    * `dedup_bucket_stats` reports how many buckets and postings each cap
    * dropped, so a run can be audited for over-aggressive capping.
    */
  val MaxShingleDf = 500
  /** LSH buckets larger than this are dropped before pair expansion
    * (default for the registered queries; the candidate generators take
    * it as a parameter). Same quadratic-blowup rationale as
    * [[MaxShingleDf]]: a bucket of b members expands b·(b−1)/2 pairs, so
    * the cap bounds per-bucket work at b²/2 ≈ 20k pair expansions.
    * Oversized buckets are near-always degenerate content (empty-ish
    * docs, templates) — but verify with [[bucketStats]] before lowering.
    */
  val MaxBucketSize = 200

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.parquet(s, dir, "documents")
      .filter(graft.text.Tokenize.hasText(col("text")))

  private def shingleOfN(toks: Column, n: Int): Column =
    graft.functions.Ngrams.shingleOfN(toks, n)

  private def shingleOf(toks: Column): Column = shingleOfN(toks, ShingleSize)

  /** (doc_id, toks): the bound token-array projection — the ONE
    * corpus-scanning step every dedup method shares.
    */
  private[dedup] def toksOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), Tokenize.whitespaceTokens.as("toks"))

  /** (doc_id, s): per-document DISTINCT shingles (set semantics). */
  def shingles(d: DataFrame): DataFrame = shinglesFromToks(toksOf(d))

  private def shinglesFromToks(toks: DataFrame): DataFrame =
    rawShingles(toks).distinct()

  /** (doc_id, s) shingle MULTISET — the narrow scan+explode with no
    * distinct shuffle. For duplicate-insensitive consumers only: min
    * aggregation (MinHash) and count(DISTINCT …) (posting sizes) give
    * identical results on the multiset and on its distinct support, so
    * those paths skip the (doc_id, s) exchange entirely.
    */
  private def rawShingles(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(shingleOf(col("toks"))).as("s"))

  /** (doc_id, shk): per-document DISTINCT hashed n-gram keys via the
    * fused [[graft.functions.GramKeys]] kernel. The pre-r12 chain
    * exploded ~20-char gram STRINGS and hashed them per row — the
    * explode carried string payloads all the way into the first
    * posting exchange, and in-doc repeats rode along until the partial
    * aggregate collapsed them. The kernel hashes each window's bytes
    * directly (no gram string, no HOF transform), dedupes IN the map
    * stage, and the explode carries 8-byte longs. Downstream consumers
    * are all duplicate-insensitive (`collect_set`, distinct,
    * count_distinct), so per-doc dedupe is semantics-preserving —
    * DedupSpec pins kernel ≡ chain in both hash modes.
    */
  private def hashedKeyPostings(d: DataFrame, n: Int,
      production: Boolean): DataFrame =
    toksOf(d).select(col("doc_id"),
      explode(graft.functions.GraftFunctions.graftGramKeys(
        col("toks"), lit(n), lit(production))).as("shk"))

  /** MinHash prime modulus and md5-seeded affine coefficients: the
    * classic h_i(x) = (a_i·x + b_i) mod P family over ONE base hash per
    * shingle (16× fewer md5 evaluations than hashing per function).
    * base < 16⁷ < 2²⁸ and a_i,b_i < P < 2³¹ keep a_i·base + b_i < 2⁵⁹ —
    * no int64 overflow in either engine (DuckDB errors on overflow
    * rather than wrapping, so this bound is correctness, not style).
    */
  val MinHashP = 2147483647L
  /** Canonical coefficient family — ONE derivation, shared with the
    * [[graft.functions.MinHashSig]] kernel and the streaming scalar
    * twin (the kernel object owns it).
    */
  lazy val minHashCoeffs: IndexedSeq[(Long, Long)] =
    graft.functions.MinHashSig.coeffs(NumHashes)

  /** (doc_id, h0..h{k-1}): MinHash signature, one groupBy. */
  def minhashSignatures(sh: DataFrame): DataFrame =
    minhashFromBase(sh.select(col("doc_id"),
      graft.functions.PortableHash.base28(col("s"),
        graft.functions.PortableHash.enabled(sh)).as("hbase")))

  /** Signature from an already-hashed (doc_id, hbase) table — the seam
    * [[bucketStats]] and [[minhashCandidates]] use to feed the min
    * aggregation straight from the raw shingle explode.
    */
  private def minhashFromBase(withBase: DataFrame): DataFrame = {
    val aggs = minHashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("hbase") + lit(b)) % lit(MinHashP)).as(s"h$i")
    }
    withBase.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Kernel-path signatures: (doc_id, h0..h{k-1}) straight off the
    * token array via the native [[graft.functions.MinHashSig]]
    * expression — ONE narrow map, no shingle explode, no doc_id
    * exchange (the column chain [[minhashSignatures]] keeps that shape
    * and DedupSpec pins the two bit-equal in both hash modes). Docs
    * too short to shingle return NULL from the kernel and are dropped
    * here ([[dropNull]]), mirroring the chain's empty explode.
    */
  private[dedup] def minhashSignaturesKernel(toks: DataFrame): DataFrame = {
    val production = graft.functions.PortableHash.enabled(toks)
    unpackSig(dropNull(toks.select(col("doc_id"),
        graft.functions.GraftFunctions.graftMinhash(col("toks"),
          lit(ShingleSize), lit(NumHashes), lit(production)).as("sig")), "sig"))
  }

  /** (doc_id, h0..h{k-1}) from the kernel's `sig` array. */
  private def unpackSig(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id") +: (0 until NumHashes).map(i =>
      element_at(col("sig"), i + 1).as(s"h$i")): _*)

  /** `df` without the rows whose column `c` is NULL. A Filter would do
    * the same, but Catalyst pushes it below the projection that
    * computes `c`, and the kernel behind `c` then runs twice per row
    * (once in the Filter, once in the Project). An explode of nothing
    * for a NULL drops the row where `c` is already computed.
    */
  private def dropNull(df: DataFrame, c: String): DataFrame =
    df.select(df.columns.toSeq.map(n =>
      if (n == c) explode(when(col(c).isNotNull, array(col(c)))).as(c) else col(n)): _*)

  /** (doc_id, band, sig): banded LSH buckets from the signature. */
  def lshBuckets(mh: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val sig = concat_ws("|", (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => col(s"h$i").cast("string")): _*)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** (doc_id, band, sig): each signed doc of `d` in its LSH buckets —
    * what the MinHash generators and the audit bucket.
    */
  private def minhashBucketRows(d: DataFrame): DataFrame =
    lshBuckets(minhashSignaturesKernel(toksOf(d)))

  /** Distinct candidate pairs (doc_a < doc_b) sharing any LSH bucket,
    * with oversized buckets dropped before the pair expansion. Signing
    * is one narrow map ([[minhashSignaturesKernel]]), so the query's
    * first shuffle is the (band, sig) bucket aggregate.
    */
  def minhashCandidates(d: DataFrame,
      maxBucketSize: Int = MaxBucketSize): DataFrame =
    bandPairs(minhashBucketRows(d), maxBucketSize)

  /** The MinHash bucket step of [[minhashCandidates]] and [[minhashCalibration]]. */
  private def bandPairs(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    Candidates.inBucket(buckets, Seq("band", "sig"), col("doc_id"), maxBucketSize,
      "doc_a", "doc_b")

  /** MinHash calibration audit: for every LSH candidate pair, the
    * signature-agreement ESTIMATE of Jaccard (matching components / k)
    * beside the EXACT shingle-set Jaccard and their absolute error —
    * the measurement that says what [[NumHashes]] hash functions
    * actually buy in accuracy (the exact-beside-estimate discipline of
    * `text_vocab_sketch`, applied to the dedup stack). Candidate pairs
    * are identical to [[minhashCandidates]] by construction (same
    * banding, same cap; spec-pinned).
    *
    * Scale notes: everything is CANDIDATE-BOUNDED — exact Jaccard is
    * computed only for pairs LSH already surfaced, never all-pairs.
    * The whole feature stage is ONE NARROW MAP: the
    * [[graft.functions.GramKeys]] kernel yields each doc's distinct
    * hashed shingle set (sorted — the [[graft.functions.SortedIntersect]]
    * merge contract) and the [[graft.functions.MinHashSig]] kernel the
    * 16 signature minima, straight off the token array — no shingle
    * explode, no (doc_id, s)-distinct exchange, no string sets (the
    * pre-r12 form collect_set'ed ~20-char gram STRINGS through a
    * corpus-wide aggregate and array_intersect'ed them per pair; at
    * sf10 that was the suite's worst query, 26.8 s). The map ends in a
    * materialization barrier (the dfOrderedDocsets discipline) because
    * three consumers read it — the bucket/pair chain and the two
    * verify join-back sides; exact set sizes are HASH-INVARIANT, so
    * the unchanged string-set oracle hash-matches (modulo the same
    * ~|shingles|²/2⁶⁰ collision behavior every hashed-key operator
    * shares). Carried per-doc key sets are bounded by doc length.
    */
  def minhashCalibration(d: DataFrame,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val production = graft.functions.PortableHash.enabled(d)
    val feat = dropNull(toksOf(d).select(col("doc_id"),
        array_sort(graft.functions.GraftFunctions.graftGramKeys(
          col("toks"), lit(ShingleSize), lit(production))).as("kset"),
        graft.functions.GraftFunctions.graftMinhash(col("toks"),
          lit(ShingleSize), lit(NumHashes), lit(production)).as("sig")), "sig")
      // Materialization barrier: one finished copy for the three
      // consumers below (bucket chain + both verify join-back sides).
      // LAZY localCheckpoint (r17 — the dedup_substring r16 move): the
      // r16 repartition(doc_id) barrier relied on exchange REUSE, but
      // column pruning gives the three consumers different exchange
      // children (the bucket chain reads only `sig`, the join-back
      // sides read `kset` too), so the scan + both kernels still
      // planned and RAN twice. Checkpointing the kernel output (one
      // row per doc: sorted key set + 16 minima — doc-bounded, never
      // pair-bounded) truncates the plan to one computed copy.
      // eager=false keeps the lazy-at-build contract (the feature plan
      // is narrow — scan→filter→project — so no stages materialize at
      // build); blocks are not recomputable on executor loss, the
      // documented localCheckpoint trade (see substringPairs).
      .localCheckpoint(false)
    // Bucket chain reads only the signature columns off the checkpoint;
    // candidate pairs are identical to minhashCandidates by construction
    // (same kernel signatures, same banding, same cap).
    val pairs = bandPairs(lshBuckets(unpackSig(feat)), maxBucketSize)
    // Exact verification, candidate-sized: the tiny pair table attaches
    // each side's sorted key set and signature; the two-pointer kernel
    // replaces array_intersect.
    Candidates.joinBack(pairs, feat, "kset", "sig")
      .select(col("doc_a"), col("doc_b"),
        size(col("kset_a")).cast("long").as("n_a"),
        size(col("kset_b")).cast("long").as("n_b"),
        graft.functions.GraftFunctions.graftSortedIx(col("kset_a"), col("kset_b"))
          .cast("long").as("inter_n"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("sig_matches"))
      .withColumn("est_jaccard",
        col("sig_matches").cast("double") / lit(NumHashes.toDouble))
      .withColumn("exact_jaccard", col("inter_n").cast("double") /
        (col("n_a") + col("n_b") - col("inter_n")).cast("double"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("exact_jaccard")))
  }

  /** (doc_id, simhash): 64-bit SimHash over unigram token frequencies,
    * emitted as a 64-char bit string (portable across engines; parsing
    * hex to int64 is NOT portable, bit strings are).
    */
  def simhashSignatures(d: DataFrame): DataFrame =
    simhashChunksFromToks(toksOf(d)).select("doc_id", "simhash")

  /** Signature plus the four 16-bit chunks as integers (ci0..ci3):
    * the bit string is the cross-engine OUTPUT format; the ints are the
    * compute format (downstream hamming is XOR + bit_count on longs
    * instead of per-character array comparison).
    */
  private[dedup] def simhashChunksFromToks(toks: DataFrame): DataFrame = {
    // The whole signature stage is ONE narrow map: the native
    // graft_simhash kernel folds the ±1 bit votes per doc straight off
    // the token array — no per-occurrence explode, no 64-column
    // aggregate, and NO doc_id exchange (the column chain's one corpus
    // shuffle, kept as [[simhashChunksHof]] and spec-pinned equal in
    // both hash modes). The empty-token filter mirrors the chain's
    // explode dropping zero-token docs.
    val production = graft.functions.PortableHash.enabled(toks)
    toks.filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftSimhash(col("toks"),
          lit(production)).as("sh"))
      .select(col("doc_id"), col("sh.simhash").as("simhash"),
        col("sh.ci0").as("ci0"), col("sh.ci1").as("ci1"),
        col("sh.ci2").as("ci2"), col("sh.ci3").as("ci3"))
  }

  /** Column-chain reference form of [[simhashChunksFromToks]] —
    * per-OCCURRENCE bit contributions, one doc_id shuffle: sum(±1)
    * over raw token occurrences ≡ sum(±1 · cnt) over per-(doc, term)
    * counts (integer sums are order-independent), so the (doc_id, t)
    * count exchange the textbook formulation starts with is pure
    * overhead — the per-doc partial sums collapse map-side before the
    * single doc_id exchange either way. Kept for DedupSpec's
    * kernel-equality pin (both hash modes).
    */
  private[dedup] def simhashChunksHof(toks: DataFrame): DataFrame = {
    val occ = toks.select(col("doc_id"), explode(col("toks")).as("t"))
    // 64 hash bits per term, extracted by the same shift/mask in both
    // modes — only the hash long differs. Oracle mode: the first 16 hex
    // digits of md5(term) ARE the bits of graft_md5_bits(term)
    // (Md5Prefix64 — one codegen'd digest; the old formulation built a
    // hex string and 16 instr()-derived digit columns per token).
    // Production mode: xxhash64's bits directly. DuckDB keeps computing
    // its positional digit arithmetic — bit-identical by construction.
    val h64 =
      if (graft.functions.PortableHash.enabled(toks)) xxhash64(col("t"))
      else graft.functions.GraftFunctions.graftMd5Bits(col("t"))
    val hashed = occ.withColumn("h64", h64)
    val bit = (b: Int) =>
      shiftrightunsigned(col("h64"), 63 - b).bitwiseAND(lit(1L))
    val bitSums = (0 until SimHashBits).map { b =>
      sum(bit(b) * 2 - 1).as(s"s$b")
    }
    val sums = hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val bitChars = (0 until SimHashBits).map(b =>
      when(col(s"s$b") > 0, "1").otherwise("0"))
    val chunkInts = (0 until 4).map { c =>
      (0 until 16).map { j =>
        when(col(s"s${c * 16 + j}") > 0, lit(1L << (15 - j))).otherwise(lit(0L))
      }.reduce(_ + _).as(s"ci$c")
    }
    sums.select(col("doc_id") +: concat(bitChars: _*).as("simhash") +: chunkInts: _*)
  }

  /** (m, chunk_id, chunk): each doc of `d` in its four chunk buckets, `m`
    * its (doc_id, ci0..ci3) struct — what [[simhashPairs]] and the audit
    * bucket.
    */
  private def simhashBucketRows(d: DataFrame): DataFrame = {
    val chunkStructs = (0 until 4).map(c =>
      struct(lit(c).as("chunk_id"), col(s"ci$c").as("chunk")))
    val member = struct(
      (col("doc_id") +: (0 until 4).map(c => col(s"ci$c"))): _*)
    simhashChunksFromToks(toksOf(d))
      .select(member.as("m"), explode(array(chunkStructs: _*)).as("cs"))
      .select(col("m"), col("cs.chunk_id").as("chunk_id"),
        col("cs.chunk").as("chunk"))
  }

  /** Near-dup pairs by SimHash: band the 64-bit signature into 4 16-bit
    * chunks (hamming ≤ 3 ⟹ at least one chunk identical), bucket the
    * docs per chunk, then exact hamming distance via zip_with/aggregate
    * (no UDF).
    *
    * Pair generation is a groupBy + in-array combination rather than a
    * bucket self-join: a self-join would recompute the 64-aggregate
    * signature subtree on BOTH sides (measured ~7× slower) — grouping
    * computes signatures once and expands pairs inside each bucket row.
    */
  def simhashPairs(d: DataFrame,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    // members are (doc_id, ci0..ci3) structs, sorted by doc_id first →
    // doc_a < doc_b by construction; degenerate chunk values shared by
    // half the corpus generate quadratic pair counts and zero dedup
    // signal — same cap rationale as the MinHash buckets
    val pairs = Candidates.inBucket(simhashBucketRows(d),
      Seq("chunk_id", "chunk"), col("m"), maxBucketSize, "a", "b")
    val ham = (0 until 4)
      .map(c => bit_count(col(s"a.ci$c").bitwiseXOR(col(s"b.ci$c"))))
      .reduce(_ + _)
    pairs
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= MaxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("hamming"))
  }

  /** Per-doc df-capped key sets with the PPJoin FREQUENCY order:
    * one (shk → doc set) aggregate computes each key's document
    * frequency and the cap in the same pass (set semantics applied in
    * the gram-keys kernel — the explode and the exchange carry 8-byte
    * longs; the oracle dedups after hashing too, so both engines share
    * exact set semantics INCLUDING ~|shingles|²/2⁶⁰ collision
    * behavior); the per-doc regroup then yields BOTH views every
    * consumer needs:
    *
    *  - `ks`: the keys in NUMERIC ascending order — the
    *    [[graft.functions.SortedIntersect]] merge contract;
    *  - `oks`: the same keys in (df, key) ascending order — the global
    *    PPJoin order, so `slice(oks, 1, plen)` IS the doc's rarest-keys
    *    prefix;
    *  - `n`: the kept-set size.
    */
  private def dfOrderedDocsets(d: DataFrame, production: Boolean,
      maxShingleDf: Int): DataFrame = {
    val posts = hashedKeyPostings(d, ShingleSize, production)
    // df per key via a FIXED-WIDTH count aggregate (posts are per-doc
    // distinct, so count = document frequency) — a collect_set variant
    // built array states for 10⁷ key groups and spilled GBs at sf10;
    // the count's partial states are 16 bytes. The cap filter rides it,
    // and the co-partitioned join annotates each posting with its df.
    val dfTab = posts.groupBy("shk").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
    posts.join(dfTab, Seq("shk"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df").cast("int").as("df"), col("shk")))
        .as("dfk"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftDfkViews(col("dfk")).as("v"))
      .select(col("doc_id"), col("v.ks").as("ks"), col("v.oks").as("oks"),
        col("v.n").as("n"))
      // Materialization barrier: callers consume this table 3–4 times
      // (prefix stream sides + verify join-backs). AQE's runtime stage
      // reuse collapses the exchanges below, but everything ABOVE the
      // last exchange — the collect_list final merge + the views
      // kernel over every posting — re-executes per consumer (measured
      // ~3× at sf10). This explicit repartition on the SAME key adds
      // one doc-sized exchange whose write side contains the finished
      // views; every consumer then reads the reused stage instead of
      // re-running the aggregate. (A persist() would do the same job
      // but violates the registry's no-cache-left-behind rule.)
      .repartition(col("doc_id"))
  }

  /** Exact n-gram Jaccard over the df-capped HASHED-shingle sets (60-bit
    * keys; set semantics applied after hashing, identically in the
    * oracle), via the inverted shingle index (never all-pairs).
    */
  def ngramJaccard(d: DataFrame,
      threshold: Double = JaccardThreshold,
      maxShingleDf: Int = MaxShingleDf): DataFrame =
    ngramJaccardOn(dfOrderedDocsets(d,
      graft.functions.PortableHash.enabled(d), maxShingleDf), threshold)

  private def ngramJaccardOn(docsets: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame = {
    val jac = col("ix").cast("double") / (col("n_a") + col("n_b") - col("ix")).cast("double")
    ngramJaccardPairsOn(docsets, threshold)
      .distinct()
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  private def ngramJaccardPairsOn(docsets: DataFrame,
      threshold: Double): DataFrame = {
    // PPJoin prefix filtering (Xiao/Wang/Lin/Yu, WWW'08): under ANY
    // global element order, jaccard(A,B) ≥ t forces the first
    // |X| − ⌈t·|X|⌉ + 1 elements of A and of B to share a key — so only
    // each doc's prefix (~(1−t)·n keys) enters the index, cutting the
    // candidate stream ~(1/(1−t))² (measured 1.27M → ~50k pair rows at
    // sf0.1) while staying LOSSLESS: the unfiltered oracle hash-matches.
    // The global order is (df, key) ASCENDING — the textbook frequency
    // order — so prefixes hold each doc's RAREST keys and prefix
    // buckets are small by construction (a boilerplate key shared by
    // hundreds of docs sorts last in every doc and never anchors a
    // bucket).
    val plen = Candidates.prefixLen(col("n"), threshold)
    // SCALAR prefix postings: jaccard(A,B) ≥ t forces BOTH prefixes to
    // contain a shared key (PPJoin), so a prefix SELF-join on shk
    // yields exactly the candidate pairs — and because the postings
    // carry three scalars (shk, doc_id, n), the exchange moves ~24
    // bytes a row. Every earlier shape paid for the key sets at
    // corpus-posting scale, measured at sf10: collect_set index (r11,
    // 16 GB spill), collect_list buckets + in-bucket verify kernel
    // (19 s, 6–9 GB spill from ~10⁶ array-of-struct states), ks-on-
    // every-prefix-posting self-join (17 s, 11 GB shuffle — a doc's
    // key set re-shuffled once per prefix key). Here arrays move only
    // in the VERIFY join below, once per doc per side.
    val scal = docsets.select(col("doc_id"), col("n"),
      explode(slice(col("oks"), lit(1), plen)).as("shk"))
    // Both self-join sides are the same subtree — the prefix exchange
    // is written once and read twice (runtime reuse). The distinct
    // collapses pairs sharing several prefix keys BEFORE any array
    // moves.
    val cand = scal.select(col("shk"), col("doc_id").as("doc_a"))
      .join(scal.select(col("shk"), col("doc_id").as("doc_b")), Seq("shk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // Exact verification, candidate-sized: join each side's sorted key
    // view back in (docsets' output is already hash-partitioned by
    // doc_id from its per-doc aggregate, so only the candidate stream
    // re-shuffles) and intersect with the two-pointer kernel. The
    // jaccard filter uses the same int-arithmetic-then-double-division
    // the oracle does.
    verifyOn(cand, docsets)
      .filter(col("ix").cast("double")
        / (col("n_a") + col("n_b") - col("ix")).cast("double") >= threshold)
  }

  /** Candidates with both docs' set sizes and their intersection size
    * (two-pointer [[graft.functions.SortedIntersect]] over `ks`). */
  private def verifyOn(cand: DataFrame, docsets: DataFrame): DataFrame =
    Candidates.joinBack(cand, docsets, "n", "ks")
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        graft.functions.GraftFunctions.graftSortedIx(col("ks_a"), col("ks_b"))
          .as("ix"))

  /** Containment bar for [[containment]]: the fraction of the SMALLER
    * doc's shingle set that must reappear in the other doc.
    */
  val ContainmentThreshold = 0.9

  /** Asymmetric containment pairs: ix / min(|A|,|B|) ≥
    * [[ContainmentThreshold]] — the doc-inclusion / quote / boilerplate
    * detector symmetric Jaccard is blind to (a page embedded verbatim in
    * a 10× larger page has containment 1.0 but Jaccard ≈ 0.1, far under
    * any dedup bar). Jaccard rides along for contrast.
    *
    * Candidates stay lossless WITHOUT an all-pairs stage via the
    * asymmetric form of prefix filtering: if containment(X→partner) ≥ t
    * then X's first |X| − ⌊t·|X|⌋ + 1 keys IN THE GLOBAL ORDER must hit
    * the partner's full set — pigeonhole on X's side alone, no bound on
    * the partner's size needed ([[Candidates.prefixLen]]). The
    * global order is (df, key) ascending, so X's prefix holds its
    * RAREST keys: a boilerplate key shared by hundreds of docs is in
    * nobody's prefix, and the big buckets it forms emit NO candidates.
    *
    * Scale notes — the r12 shape history, all MEASURED at sf10:
    * (a) Σdf² scalar pair rows into a groupBy(doc_a, doc_b) count:
    * the aggregate held one state entry per distinct co-occurring pair
    * and spilled 78 GB mem + 9.9 GB disk (47 s); (b) carrying each
    * doc's key set on EVERY posting for in-bucket verification:
    * 46 GB through the bucket exchange (55–131 s); (c) collect_list
    * buckets over the light postings + an in-bucket candidate kernel:
    * correct, but the aggregate held one ARRAY state per distinct
    * corpus key (~10⁷ groups) and spilled 6–10 GB (22–42 s). The
    * shape here: postings stay LIGHT (shk, doc_id, pfx — three
    * scalars), candidates come from a prefix ⋈ postings shuffle-hash
    * join (no aggregate state at all), a distinct collapses them
    * (small: frequency order means boilerplate keys anchor no prefix),
    * and the exact verify (two-pointer
    * [[graft.functions.SortedIntersect]]) runs in a candidate-sized
    * join back to the per-doc sets — the corpus-scale streams carry
    * scalars only, arrays move once per CANDIDATE, and no corpus-scale
    * aggregate keys on pairs or keys. Same losslessness, same df-cap
    * lever, same oracle.
    */
  def containment(d: DataFrame,
      threshold: Double = ContainmentThreshold,
      maxShingleDf: Int = MaxShingleDf): DataFrame =
    // four consumers (both candidate-join postings sides + both
    // verify-join sides) re-plan the docsets subtree; its trailing
    // materialization barrier (see dfOrderedDocsets) means they all
    // read one finished copy at runtime — the scan, gram hashing, df
    // join, and views kernel run once
    containmentOn(dfOrderedDocsets(d,
      graft.functions.PortableHash.enabled(d), maxShingleDf), threshold)

  private def containmentOn(docsets: DataFrame,
      threshold: Double = ContainmentThreshold): DataFrame = {
    val plen = Candidates.prefixLen(col("n"), threshold)
    // LIGHT postings: (shk, doc_id, in-prefix flag) — three scalars.
    // pos is posexplode's 0-based index into the df-ORDERED key view,
    // so pos < plen marks exactly the rarest-plen prefix
    val postings = docsets
      .select(col("doc_id"), plen.as("plen"), posexplode(col("oks")))
      .select(col("col").as("shk"), col("doc_id"),
        (col("pos") < col("plen")).as("pfx"))
    // Candidates as a PREFIX ⋈ POSTINGS scalar join: a qualifying
    // pair's SMALLER doc X has ix/|X| ≥ t, so one of X's rarest-plen
    // prefix keys must appear in the partner's full set — the join
    // enumerates exactly the (X prefix posting) × (partner posting)
    // co-occurrences, i.e. the same flag-guarded pair stream the r12
    // in-bucket kernel emitted, with ZERO aggregate state. (The kernel
    // needed collect_list buckets first: array states for one group
    // per distinct corpus key — ~10⁷ groups at sf10 — which spilled
    // 6–10 GB and dominated the query. A join carries 20-byte scalar
    // rows through codegen'd operators instead.) Per-key expansion is
    // prefix_df × df ≤ prefix_df × maxShingleDf — the frequency order
    // keeps prefix_df tiny for boilerplate keys, so big buckets still
    // emit no candidates. shuffle_hash hint: the prefix side is ~(1−t)
    // of the postings, far under any sort-merge crossover, and SHJ
    // skips both sort passes.
    val cand = postings.filter(col("pfx")).select(col("shk"),
        col("doc_id").as("pa")).hint("shuffle_hash")
      .join(postings.select(col("shk"), col("doc_id").as("pb")), Seq("shk"))
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"))
      .distinct()
    // exact verification, candidate-sized (the docsets subtree is
    // re-planned, but its exchanges partition identically and reuse at
    // runtime)
    val cont = col("ix").cast("double") / least(col("n_a"), col("n_b")).cast("double")
    val jac = col("ix").cast("double") / (col("n_a") + col("n_b") - col("ix")).cast("double")
    verifyOn(cand, docsets)
      .filter(cont >= threshold)
      .select(col("doc_a"), col("doc_b"), cont.as("containment"), jac.as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Sliding exact-substring dedup parameters (the Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * ACL'22 operator class): [[SubstrGram]]-token hashed windows at
    * EVERY offset, winnowing window [[SubstrWinnow]] over consecutive
    * window keys, reporting pairs whose longest verbatim token run is
    * ≥ [[SubstrMinSpan]] = SubstrGram + SubstrWinnow − 1 — exactly the
    * winnowing guarantee bound, so the anchor filter is LOSSLESS for
    * every reported span. [[SubstrMaxAnchorDf]] caps anchor-bucket
    * fan-out (df docs → df·(df−1)/2 candidate pairs), the
    * [[MaxShingleDf]] discipline: boilerplate spans shared by hundreds
    * of docs are a cluster problem, not a pair problem.
    */
  val SubstrGram = 25
  val SubstrWinnow = 26
  val SubstrMinSpan = SubstrGram + SubstrWinnow - 1 // = 50 tokens
  val SubstrMaxAnchorDf = 500

  /** Verbatim-overlap pairs at ARBITRARY offsets: (doc_a, doc_b,
    * span_tokens, n_shared) for every pair sharing a ≥ [[SubstrMinSpan]]
    * -token exact substring — the screen `text_chunk_dedup`'s ALIGNED
    * fixed-width chunks structurally miss (a 300-token quote starting
    * at a non-chunk offset shares no chunk hash but shares ~276 25-gram
    * windows; SubstringDedupSpec pins that case).
    *
    * Algorithm (both engines, mirrored operation-for-operation):
    *  1. per doc, the ordered 60-bit keys of every [[SubstrGram]]-token
    *     window ([[graft.functions.GramKeySeq]] — one fused map pass);
    *  2. winnowing anchors: minima of every [[SubstrWinnow]] full
    *     consecutive-key window, distinct VALUES per doc
    *     ([[graft.functions.WinnowSelect]]) — ~2/(w+1) of the keys, so
    *     the anchor index is an order of magnitude smaller than a full
    *     posting index; docs sharing a qualifying span share ≥1 anchor
    *     value (Schleimer/Wilkerson/Aiken guarantee), so candidates are
    *     lossless at the [[SubstrMinSpan]] bar;
    *  3. candidate pairs expand in-bucket from df-capped anchor
    *     buckets (bounded by [[SubstrMaxAnchorDf]]²/2 per bucket);
    *  4. verification joins the candidate docs' FULL positional
    *     postings (semi-join pruned — only candidate docs' windows
    *     rejoin the chain), aligns matches on the pa − pb diagonal,
    *     and gaps-and-islands (pa − row_number) measures each maximal
    *     consecutive run: longest run r ⇒ verbatim span of
    *     r + SubstrGram − 1 tokens.
    *
    * Scale notes (100 TB posture): two corpus scans by construction —
    * the anchor pass and the verify pass (a production run materializes
    * the gram-seq table once and feeds both). No all-pairs stage ever
    * forms: anchors are winnow-sparsified AND df-capped before any
    * pair expansion, and the verify join touches only candidate docs
    * (broadcast semi-join), co-partitioned on (doc, key). The window
    * function runs per candidate PAIR's match rows — pair-sized, not
    * corpus-sized.
    */
  def substringPairs(d: DataFrame,
      minSpan: Int = SubstrMinSpan,
      maxAnchorDf: Int = SubstrMaxAnchorDf): DataFrame = {
    require(minSpan >= SubstrGram + SubstrWinnow - 1,
      s"winnowing with window $SubstrWinnow only guarantees spans ≥ " +
        s"${SubstrGram + SubstrWinnow - 1}; got minSpan=$minSpan")
    val production = graft.functions.PortableHash.enabled(d)
    val seqs = toksOf(d).select(col("doc_id"),
      graft.functions.GraftFunctions.graftGramKeySeq(
        col("toks"), lit(SubstrGram), lit(production)).as("ks"))
    val anchors = seqs.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.graftWinnowSelect(
        col("ks"), lit(SubstrWinnow))).as("anchor"))
    // Anchor buckets through the shared candidate step: graft_winnow_select
    // returns each doc's anchors distinct, so a doc appears once per
    // bucket and the member list needs no set semantics. LAZY localCheckpoint
    // (r16): `cand` has three consumers (both candDocs legs + the
    // verify join) and `pos` two (the pa/pb self-join sides), and
    // Spark reuses EXCHANGES, not arbitrary subtrees — the r15 plan
    // re-planned the tokenize+gram-seq corpus pass ~5× (38 Exchanges).
    // Checkpointing the two BOUNDED intermediates (cand: df-capped
    // pairs; pos: candidate docs' postings only, already semi-join
    // pruned) makes the executed query the documented two-corpus-scan
    // design (guide §3.3 "materialise an intermediate"). eager=false
    // keeps the registry's lazy-at-build contract: the RDD materializes
    // inside the first action and later consumers read the persisted
    // blocks. Values are untouched — downstream is aggregates/joins +
    // a final orderBy, so block order cannot matter.
    //
    // Fault-tolerance trade (r17, VERDICT r16 #3/#7): localCheckpoint
    // truncates lineage, so the checkpointed blocks are NOT
    // recomputable — on a real cluster, losing an executor that holds
    // them fails the query instead of recomputing. Decision: ACCEPT for
    // these two intermediates and document, rather than switch to
    // reliable checkpoint() — both are bounded (cand: ≤ maxAnchorDf²/2
    // pairs per df-capped bucket, pairs of longs; pos: candidate docs'
    // postings only, already semi-join pruned — at sf100 both are MBs,
    // and at 100 TB they stay ~5 orders below corpus size because the
    // winnow sparsification and df cap bound them by candidate volume,
    // not corpus volume), so the retry-the-query cost on executor loss
    // is one bounded re-run, while a reliable checkpoint would pay a
    // distributed-FS write + read INSIDE every healthy run. A
    // deployment on flaky spot nodes flips to .checkpoint() with
    // sc.setCheckpointDir — one line, values identical.
    val cand = Candidates.inBucket(anchors, Seq("anchor"), col("doc_id"), maxAnchorDf,
        "doc_a", "doc_b")
      .localCheckpoint(false)
    val candDocs = cand.select(explode(array(col("doc_a"), col("doc_b")))
      .as("doc_id")).distinct()
    val pos = seqs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("ks")))
      .select(col("doc_id"), col("pos"), col("col").as("hk"))
      .localCheckpoint(false)
    val matches = cand
      .join(pos.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("hk")), Seq("doc_a"))
      .join(pos.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("hk")), Seq("doc_b", "hk"))
    val byDiag = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    val runs = matches
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(byDiag))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(count(lit(1)).as("cnt"))
    runs.groupBy("doc_a", "doc_b")
      .agg(max(col("cnt")).as("maxrun"), sum(col("cnt")).as("n_shared"))
      .filter(col("maxrun") + lit(SubstrGram - 1) >= minSpan)
      .select(col("doc_a"), col("doc_b"),
        (col("maxrun") + lit(SubstrGram - 1)).cast("long").as("span_tokens"),
        col("n_shared").cast("long").as("n_shared"))
      .orderBy("doc_a", "doc_b")
  }

  /** Fixture stand-in for the ingest-batch predicate in
    * [[incrementalDedup]]: in production the delta is "this batch's
    * arrivals" (a partition/date predicate on the ingest column); the
    * fixture has no such column, so the 20% delta is carved by doc_id
    * modulus — deterministic, repartition-stable, oracle-identical.
    */
  val DeltaMod = 5

  /** Incremental (delta-vs-corpus) dedup: the shape a daily ingest
    * actually runs — screen the NEW batch against the standing corpus
    * without touching any corpus×corpus pair. Per delta doc: exact
    * verdict (its normalized-text hash already exists in the corpus),
    * near-candidate count (distinct corpus docs sharing ≥1 LSH bucket —
    * same banding/cap as [[minhashCandidates]]), and the routed verdict
    * (`exact_dup` > `near_candidate` > `new`). Delta-delta pairs are
    * deliberately out of scope — they are the standard intra-batch pass
    * ([[minhashCandidates]] on the batch alone).
    *
    * Scale notes: the corpus NEVER pairs with itself — corpus docs enter
    * only as (a) a distinct hash set (one map-side-combined shuffle,
    * then a co-partitioned join against the delta's hashes) and (b)
    * per-bucket member lists capped at [[MaxBucketSize]], crossed only
    * with the bucket's DELTA members (work per bucket ≤ |Δ|·cap, linear
    * in the batch). Signatures are computed in ONE kernel pass over all
    * docs ([[minhashSignaturesKernel]] — zero-shuffle signature stage)
    * and split by the delta flag inside the one (band, sig) aggregate;
    * in production the corpus side's hash set and bucket lists are the
    * standing index you materialize once and append to per batch, so
    * the recurring cost is delta-sized.
    */
  /** The fixture's batch-membership predicate (see [[DeltaMod]]). */
  private[dedup] def isDelta(c: Column): Column =
    pmod(c, lit(DeltaMod)) === lit(DeltaMod - 1)

  def incrementalDedup(d: DataFrame,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val hashed = d.select(col("doc_id"),
      sha2(lower(col("text")), 256).as("text_hash"))
    val corpusH = hashed.filter(!isDelta(col("doc_id")))
      .select(col("text_hash")).distinct().withColumn("hit", lit(true))
    val exact = hashed.filter(isDelta(col("doc_id")))
      .join(corpusH, Seq("text_hash"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("exact_dup"))
    val near = minhashBucketRows(d)
      .groupBy("band", "sig")
      .agg(
        collect_list(when(isDelta(col("doc_id")), col("doc_id"))).as("delta_m"),
        collect_list(when(!isDelta(col("doc_id")), col("doc_id"))).as("corpus_m"))
      .filter(size(col("delta_m")) >= 1 &&
        size(col("corpus_m")).between(1, maxBucketSize))
      .select(explode(col("delta_m")).as("doc_id"), col("corpus_m"))
      .select(col("doc_id"), explode(col("corpus_m")).as("partner"))
      .groupBy("doc_id")
      .agg(countDistinct(col("partner")).as("near_partners"))
    verdicts(exact, near)
  }

  /** The verdict tail both incremental forms share: near_partners
    * absent is 0; `exact_dup` > `near_candidate` > `new`.
    */
  private def verdicts(exact: DataFrame, near: DataFrame): DataFrame =
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("near_partners"), lit(0L)).as("near_partners"),
        when(col("exact_dup"), lit("exact_dup"))
          .when(coalesce(col("near_partners"), lit(0L)) > 0, lit("near_candidate"))
          .otherwise(lit("new")).as("verdict"))
      .orderBy("doc_id")

  /** The standing corpus-side index the daily-ingest reality needs:
    * [[incrementalDedup]] is the right SINGLE-SHOT shape but re-signs
    * the whole corpus on every call — at 100 TB the corpus signature
    * pass dwarfs the delta, so repeated days must not pay it. This
    * pair of frames IS that standing index: the corpus's distinct
    * normalized-text hashes and its per-(band, sig) LSH member lists.
    * Materialize both once (parquet, bucket table partitioned by
    * band), append each admitted batch, and every subsequent
    * [[incrementalDedupAgainst]] run touches corpus data ONLY through
    * these two delta-joined sides.
    */
  case class CorpusIndex(hashes: DataFrame, buckets: DataFrame)

  def corpusIndex(corpus: DataFrame): CorpusIndex = CorpusIndex(
    corpus.select(sha2(lower(col("text")), 256).as("text_hash")).distinct(),
    minhashBucketRows(corpus)
      .groupBy("band", "sig").agg(collect_list(col("doc_id")).as("corpus_m")))

  /** [[incrementalDedup]] against a PRECOMPUTED [[CorpusIndex]] —
    * spec-pinned row-identical to the single-shot form on the fixture
    * split (DedupSpec). Work is delta-sized: the delta's signatures
    * (one kernel pass), one hash join, one (band, sig) join whose
    * per-bucket expansion is ≤ |Δ-members|·cap.
    */
  def incrementalDedupAgainst(delta: DataFrame, idx: CorpusIndex,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val exact = delta.select(col("doc_id"),
        sha2(lower(col("text")), 256).as("text_hash"))
      .join(idx.hashes.withColumn("hit", lit(true)), Seq("text_hash"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("exact_dup"))
    val near = minhashBucketRows(delta)
      .join(idx.buckets
        .filter(size(col("corpus_m")).between(1, maxBucketSize)),
        Seq("band", "sig"))
      .select(col("doc_id"), explode(col("corpus_m")).as("partner"))
      .groupBy("doc_id")
      .agg(countDistinct(col("partner")).as("near_partners"))
    verdicts(exact, near)
  }

  /** Fixpoint guard for the label-propagation loops. With the
    * pointer-doubling hop [[nearDupLabels]] converges in O(log
    * diameter) rounds, so 64 covers any graph whose node ids fit a
    * long; hitting the guard indicates a logic error, not a big input.
    * (r10 shipped a FIXED 4-round budget — exact only for components
    * of diameter ≤ 4, silently splitting deeper chains; the loops now
    * iterate until a round changes no label.)
    */
  val MaxClusterRounds = 64

  /** Connected components over an undirected pair list by min-label
    * propagation TO FIXPOINT — the form the REGISTERED queries use.
    * Every node starts labeled with itself; each round it takes the
    * min of (its own label, its neighbors' labels, its label's label).
    * The label-of-label "pointer doubling" hop halves label-chain
    * depth per round, so a templated dup chain of depth 10³ converges
    * in ~10 rounds, not 10³. The loop stops at the first round that
    * changes NO label, so the output is EXACT connected components on
    * any graph (lbl = min doc_id of the node's component) — fixpoint
    * of min-propagation forces equal labels across every edge.
    *
    * Each round's (node, lbl) table — NODE-bounded, never pair- or
    * corpus-bounded — is materialized eagerly (the pure-lazy fold's
    * plan would double per round), and the convergence probe is a
    * `changed`-flag scan over the blocks just written, not a fresh
    * pass. The edge list materializes ONCE.
    *
    * Scale notes: driver-COORDINATED (bounded Spark jobs at build),
    * never driver-SIDED — no edge or label ever crosses to the driver.
    * Rounds cut lineage via `localCheckpoint` (block-manager): no
    * per-round disk write, and the blocks are RDD-level, not SQL cache,
    * so the registry's no-cached-state-after-action contract holds.
    */
  def nearDupLabels(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val edges = e.unionByName(e.select(col("v").as("u"), col("u").as("v"))).localCheckpoint()
    var lab = edges.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < MaxClusterRounds) {
      val nbr = edges.join(lab.withColumnRenamed("node", "v"), "v")
        .select(col("u").as("node"), col("lbl"))
      val hop = lab.select(col("node"), col("lbl").as("mid"))
        .join(lab.select(col("node").as("mid"), col("lbl").as("hop_lbl")), "mid")
        .select(col("node"), col("hop_lbl").as("lbl"))
      val cand = lab.unionByName(nbr).unionByName(hop)
        .groupBy("node").agg(min("lbl").as("lbl"))
      val next = lab.select(col("node"), col("lbl").as("prev"))
        .join(cand, "node")
        .select(col("node"), col("lbl"),
          (col("lbl") < col("prev")).as("changed")).localCheckpoint()
      converged = next.filter(col("changed")).isEmpty // reads the blocks
      lab = next.select("node", "lbl")
      round += 1
    }
    require(converged,
      s"label propagation did not converge in $MaxClusterRounds rounds")
    lab
  }

  /** [[nearDupLabels]]' semantics on the driver: plain neighbor-min
    * rounds to fixpoint (no doubling hop needed at driver scale).
    * Exists as the INDEPENDENT spec oracle for the distributed form —
    * ClusterPropertySpec checks it against brute-force BFS components
    * on arbitrary graphs, DedupSpec pins driver/Spark parity. At
    * fixpoint both compute exact component minima, so parity holds on
    * ANY graph, not just shallow ones.
    */
  private[dedup] def propagateDriver(
      pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    propagateDriverChecked(pairs)._1

  /** [[propagateDriver]] plus the convergence flag: false only if the
    * [[MaxClusterRounds]] guard was hit before fixpoint (a logic
    * error, kept observable rather than asserted away).
    */
  private[dedup] def propagateDriverChecked(
      pairs: Seq[(Long, Long)]): (Seq[(Long, Long)], Boolean) = {
    val nbrs = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    def round(prev: Map[Long, Long]): Map[Long, Long] =
      prev.map { case (n, l) => n -> (nbrs(n).map(prev) :+ l).min }
    var lbl: Map[Long, Long] = nbrs.keys.map(n => n -> n).toMap
    var converged = false
    var rounds = 0
    while (!converged && rounds < MaxClusterRounds) {
      val nxt = round(lbl)
      converged = nxt == lbl
      lbl = nxt
      rounds += 1
    }
    (lbl.toSeq.sortBy(_._1), converged)
  }

  /** Cap observability (the caps must never truncate SILENTLY): one row
    * per candidate-generation method with how many buckets exceed its
    * cap and how many postings (doc memberships) those buckets carry —
    * exactly what the capped operators drop. Always emits all three
    * rows (zeros when nothing is oversized), so "nothing dropped" is an
    * asserted fact, not an absent one. Registered as
    * `dedup_bucket_stats`; run it alongside a dedup pass to audit the
    * caps before tightening them.
    */
  def bucketStats(d: DataFrame, maxShingleDf: Int = MaxShingleDf,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    // NO persist, NO distinct: the audit is three independent
    // one-shuffle aggregation branches collected in ONE job, running
    // in parallel (r5 persisted toks+sh: 15.9 s; r6 persisted sh only:
    // 9.9 s — both gone):
    //  - minhash: per-doc KERNEL signatures (graft_minhash narrow map,
    //    no shingle explode at all) feed the (band, sig) size count;
    //  - jaccard: count(*) per hashed key off the PER-DOC-DISTINCT
    //    gram-keys kernel explode ≡ the inverted-index posting-set
    //    sizes [[ngramJaccard]] caps on (the kernel dedupes in-doc
    //    repeats in the map stage, so plain count IS document
    //    frequency — no count_distinct expand, and the explode
    //    carries 8-byte longs instead of ~20-char gram strings);
    //  - simhash: per-doc kernel chain, zero-shuffle until the chunk
    //    size count.
    // 100 TB posture: three column-pruned corpus scans, fully
    // pipelined, zero cached state — re-tokenizing per branch beats
    // materializing a corpus-sized table that would spill to disk.
    // Each branch counts the rows its generator caps (hashedKeyPostings
    // is the subtree dfOrderedDocsets' df count runs on).
    val production = graft.functions.PortableHash.enabled(d)
    val stats = Candidates.audit(hashedKeyPostings(d, ShingleSize, production),
        Seq("shk"), maxShingleDf, "jaccard_shingle")
      .unionByName(Candidates.audit(minhashBucketRows(d),
        Seq("band", "sig"), maxBucketSize, "minhash_lsh"))
      .unionByName(Candidates.audit(simhashBucketRows(d),
        Seq("chunk_id", "chunk"), maxBucketSize, "simhash_chunk"))
      .orderBy("method")
    // The result is EXACTLY three rows (one per method — a bounded
    // audit summary), so it is computed eagerly and re-entered as a
    // local frame: an audit query must not leave resident state behind
    // in a user session (RegistrySpec asserts the cache is empty after
    // every registered query's action — trivially true here, since
    // nothing is persisted at all).
    val rows = stats.collect()
    d.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), stats.schema).orderBy("method")
  }

  /** n-gram length for benchmark decontamination. Deliberately LONGER
    * than the dedup shingle (3): decontamination flags near-VERBATIM
    * leakage of an evaluation set into training data, so the n-gram must
    * be long enough that chance vocabulary collisions vanish (on this
    * fixture n=3 flags ~100 % of the corpus as "contaminated", n=5 flags
    * exactly the true cross-source near-copies). Web-scale pipelines
    * conventionally use ~13-grams; 5 fits the fixture's ~50-token docs.
    */
  val DecontamShingle = 5
  /** The fixture source treated as the held-out evaluation set. */
  val DecontamEvalSource = "src0"

  /** (doc_id, shk) hashed [[DecontamShingle]]-gram postings of `d` —
    * per-doc distinct via the fused kernel (every consumer distincts
    * anyway: eval keys, contaminated-id sets, count_distinct reports).
    */
  private def decontamKeys(d: DataFrame, production: Boolean): DataFrame =
    hashedKeyPostings(d, DecontamShingle, production)

  /** Corpus postings whose key appears in the eval set — the ONE
    * broadcast semi-join chain both decontamination surfaces share.
    */
  private def contaminatedPostings(corpus: DataFrame,
      evalDocs: DataFrame): DataFrame = {
    val production = graft.functions.PortableHash.enabled(corpus)
    val evalKeys = decontamKeys(evalDocs, production).select("shk").distinct()
    decontamKeys(corpus, production)
      .join(broadcast(evalKeys), Seq("shk"), "left_semi")
  }

  /** Distinct oracle-mode (md5) eval-set shingle keys — the side input
    * [[graft.streaming.StreamingDecontam]] collects to flag arriving
    * docs without a join (the scalar path is md5-only, same precedent
    * as StreamingNearDup's signature chain).
    */
  private[graft] def decontamEvalKeys(evalDocs: DataFrame): DataFrame =
    decontamKeys(evalDocs, production = false).select("shk").distinct()

  /** Benchmark decontamination: drop every corpus doc sharing at least
    * one [[DecontamShingle]]-gram (60-bit hashed, both engines) with the
    * evaluation set — the standard guard against test-set leakage into
    * training data.
    *
    * Scale notes (100 TB posture): the eval side is a BENCHMARK — tiny
    * by construction — so its distinct shingle keys broadcast and the
    * corpus-side membership test is a map-side broadcast semi-join: the
    * corpus never shuffles. The contaminated-id set (a small fraction of
    * the corpus when decontamination is doing its job) feeds a second
    * join that AQE plans as broadcast when it fits; both joins degrade
    * gracefully to shuffle joins if an adversarial eval set explodes
    * either side.
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame): DataFrame = {
    val contaminated = contaminatedPostings(corpus, evalDocs)
      .select("doc_id").distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** The audit twin of [[decontaminate]] — drops must never be silent:
    * one row per CONTAMINATED corpus doc with how many distinct eval
    * n-gram keys it shares (the evidence the drop decision rests on).
    * Same broadcast semi-join chain; a per-doc aggregate replaces the
    * distinct+anti tail.
    */
  def decontaminationReport(corpus: DataFrame, evalDocs: DataFrame): DataFrame =
    contaminatedPostings(corpus, evalDocs)
      .groupBy("doc_id")
      .agg(count_distinct(col("shk")).as("n_shared_keys"))

  /** Bloom sizing floor for [[decontaminateBloom]]'s eval-key sketch —
    * the build sizes the sketch from the MEASURED distinct-key count
    * at 10 bits/key ≈ 1% false positives (a fixed build bound
    * saturates silently the moment the eval side outgrows it: the r13
    * sf100 run measured the then-fixed 2²⁰-key sketch at ~12M eval
    * keys ≈ 100% false positives — every probe paid, nothing
    * filtered). The floor only stops a degenerate eval side from
    * producing a uselessly tiny sketch; [[DecontamBloomMaxKeys]] is the
    * explicit CEILING. Within [floor, ceiling] the build raises the
    * session's `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/
    * `maxNumBits` guards around just the one sketch job so the
    * aggregate validates (never lowers them — the raise takes
    * max(needed, registered current) where an unset conf reads its
    * REGISTERED default, 4M items / 64M bits, not zero). Past the
    * ceiling the sketch is clamped — keys beyond it only degrade the
    * FP rate toward pass-through, with a stderr warning so the
    * degradation is never silent — because sizing strictly from the
    * measured count is unbounded in the eval-key volume (500M keys →
    * a ~625 MB driver-collected byte array → driver OOM). Correctness
    * never depends on the FP rate: the exact semi-join decides.
    */
  val DecontamBloomKeys = 1L << 20

  /** Absolute ceiling on [[decontaminateBloom]]'s sketch size, in
    * distinct eval keys: 2²⁵ keys × 10 bits ≈ 42 MB — comfortably
    * driver-collectable and executor-broadcastable, ~3× the sf100
    * fixture's measured ~12M keys. An eval side beyond this keeps the
    * 42 MB sketch and accepts a higher FP rate (more survivors reach
    * the exact confirm join) rather than an unbounded driver
    * collection.
    */
  val DecontamBloomMaxKeys = 1L << 25

  /** [[decontaminate]]'s exact result behind a bloom PRE-filter — the
    * 100 TB variant for when the eval side outgrows a comfortable
    * broadcast hash set. The bloom sketch over the eval keys costs ~10
    * bits/key (vs the semi-join build side's 8-byte key + hash-map
    * overhead, an order of magnitude more), ships to every executor as
    * one binary literal, and discards the overwhelmingly-clean corpus
    * postings in a codegen'd scan predicate; only the ~1%
    * might-contain survivors reach the exact semi-join that removes
    * bloom false positives. False negatives don't exist in a bloom
    * filter, so the result is hash-checked IDENTICAL to
    * [[decontaminate]] (same oracle SQL, no weaker gate). Eager at
    * build (documented registry entry): the sketch is sized from the
    * measured distinct-key count — floored at [[DecontamBloomKeys]]
    * (≈1.3 MB), hard-capped at [[DecontamBloomMaxKeys]] (≈42 MB, FP
    * rate degrades past it rather than the collection growing
    * unbounded) — collected to the driver and re-entered as a
    * literal, the stopword side-input discipline.
    */
  def decontaminateBloom(corpus: DataFrame, evalDocs: DataFrame): DataFrame = {
    val production = graft.functions.PortableHash.enabled(corpus)
    // Eager localCheckpoint (the docsetsFor discipline — block-manager
    // backed, freed by the context cleaner when the plan is dropped, no
    // cache-manager residue): the distinct eval keys are read THREE
    // times — the sizing count, the sketch aggregate, and the exact
    // confirm join's broadcast build — and the key derivation
    // (tokenize + digest + distinct exchange) is the expensive part of
    // the eval side; before this the build re-derived it per consumer
    // (measured as most of the query's super-linear sf100 tail).
    val evalKeys = decontamKeys(evalDocs, production).select("shk").distinct()
      .localCheckpoint()
    val measured = evalKeys.count()
    if (measured > DecontamBloomMaxKeys)
      Console.err.println(
        s"graft.decontaminateBloom: eval side has $measured distinct keys, " +
          s"past the $DecontamBloomMaxKeys sketch ceiling — clamping; the " +
          "bloom pre-filter degrades toward pass-through (exact semi-join " +
          "still decides, result unchanged)")
    val est = math.min(math.max(measured, DecontamBloomKeys), DecontamBloomMaxKeys)
    val bits = est * 10
    // The sketch AGGREGATE validates its size against the session's
    // runtime-bloom guards (maxNumItems 4M / maxNumBits 64M by
    // default), which the fixture's sf100 eval side (~12M keys)
    // exceeds. Raise them around JUST this one bounded job — set, run,
    // restore, the wideAggConf discipline — because the same guard
    // namespace also sizes Spark's RUNTIME FILTER injection for every
    // shuffle join in the session; a session-wide raise was tried
    // first and showed no plan change on this suite (per-query
    // spill/shuffle bytes byte-identical), but scoping removes the
    // side-effect surface instead of relying on that observation.
    val session = corpus.sparkSession
    val conf = session.conf
    val guards = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> est,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> bits)
    // The set/run/restore window mutates SESSION-level confs, so it is
    // serialized on the session: two overlapping builds (or a caller's
    // own guard writes racing the restore) would otherwise interleave
    // and leave a stale value behind. Unrelated queries PLANNED on
    // other threads inside the window still see the raised guards —
    // callers sharing one session with concurrent planning should use
    // session.newSession() for isolation.
    val bloom = session.synchronized {
      // conf.get(k) with NO fallback resolves a registered conf to its
      // default (4M items / 64M bits) when unset; a literal-"0" fallback
      // would make the "raise" LOWER the guards whenever est sits below
      // those defaults.
      val raised = guards.map { case (k, v) =>
        k -> math.max(v, scala.util.Try(conf.get(k).toLong).getOrElse(0L)).toString
      }.toMap
      graft.Session.withScopedConf(session, raised) {
        evalKeys.agg(graft.functions.GraftFunctions
            .graftBloomAgg(col("shk"), lit(est), lit(bits)).as("bf"))
          .head().getAs[Array[Byte]](0)
      }
    }
    val contaminated = decontamKeys(corpus, production)
      .filter(graft.functions.GraftFunctions
        .graftMightContain(lit(bloom), col("shk")))
      .join(broadcast(evalKeys), Seq("shk"), "left_semi")
      .select("doc_id").distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Cross-source duplication matrix on hashed [[DecontamShingle]]-gram
    * key SETS: for every source pair, the distinct keys each side holds,
    * how many they share, and the Jaccard of the two sets — the corpus
    * composition report that decides which source pairs need
    * cross-source (not just within-source) near-dedup, and the
    * generalization of decontamination from one eval source to ALL
    * pairs.
    *
    * Scale notes (100 TB posture): ONE corpus scan feeding a DISTINCT
    * (shk, source) posting table — a fixed-width aggregate, no array
    * state — whose exchange is written once and read by both sides of
    * a scalar SELF-join on shk (src_a ≤ src_b): the diagonal counts
    * presence (per-source key totals), the strict pairs count
    * co-presence, and because the posting table is distinct, each
    * (key, src_a, src_b) combination joins exactly once, so one
    * bounded (src_a, src_b) count aggregate carries both. Per-key
    * expansion is ≤ |sources per key|² — source cardinality, never a
    * doc-level explosion. (The previous form aggregated a per-KEY
    * sorted source SET — ~10⁷ small array states — and expanded pairs
    * through nested `transform` lambdas, which run interpreted:
    * 16.9–19.3 s in the sf10 suite runs against this shape's 7.8 s,
    * hash-identical.) The
    * ≤ |sources|² count rows are collected and the dense grid
    * (zero-overlap pairs as explicit rows) plus the single Jaccard
    * division assemble on the driver, re-entered as a local frame —
    * the bucket-stats re-enter discipline.
    */
  def sourceOverlap(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val production = graft.functions.PortableHash.enabled(d)
    val posts = d.select(col("source"), Tokenize.whitespaceTokens.as("toks"))
      .select(col("source"),
        explode(graft.functions.GraftFunctions.graftGramKeys(
          col("toks"), lit(DecontamShingle), lit(production))).as("shk"))
      .distinct()
    val cnt = posts.select(col("shk"), col("source").as("src_a"))
      .join(posts.select(col("shk"), col("source").as("src_b")), Seq("shk"))
      .filter(col("src_a") <= col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val sources = cnt.keys.collect { case (a, b) if a == b => a }.toSeq.sorted
    val rows = for {
      (a, ia) <- sources.zipWithIndex
      b <- sources.drop(ia + 1)
    } yield {
      val ka = cnt((a, a)); val kb = cnt((b, b))
      val sh = cnt.getOrElse((a, b), 0L)
      (a, b, ka, kb, sh, sh.toDouble / (ka + kb - sh).toDouble)
    }
    rows.toDF("src_a", "src_b", "keys_a", "keys_b", "shared_keys", "jaccard")
  }

  /** First build per (app, dir, hash mode) of `dedup_ngram_jaccard`
    * or `dedup_containment`: the shared docsets table ([[docsetsFor]]).
    */
  private val docsetsBuild = QuerySpec.Memoized(
    "NOTHING to the driver: the df-ordered docsets table (per-doc kept shingle-hash sets) is localCheckpointed once per (app, dir, hash mode) and shared by both pair queries and the label build; whichever consumer runs first pays it",
    "one row per admitted document")

  /** First build per (app, dir) of `dedup_near_apply` or
    * `dedup_cluster_sizes`: the shared label table ([[labelsFor]]).
    */
  private val labelsBuild = QuerySpec.Memoized(
    "NOTHING to the driver: the FIXPOINT label-propagation rounds run as Spark jobs on first build per fixture (edges + each round's node-bounded label table materialized via `localCheckpoint`, convergence decided by a changed-flag probe over the fresh blocks); the final labels enter one corpus left-join lazily, and `dedup_near_apply` and `dedup_cluster_sizes` share the cached label table per (app, dir)",
    "O(log diameter)+1 distributed jobs on first build; labels ≤ 2·pairs nodes")

  /** Reduce-task sizing for [[pairShuffleConf]]: one task per MB of
    * compressed documents parquet ≈ the measured-winning geometry
    * (sf100: 0.77 GB docs → ~740 tasks vs the 676 the winning A/B arm
    * used; sf10: ~73; sf0.1: under the cpus floor). The divisor is
    * small because a documents byte explodes ~25× into hashed posting
    * rows plus array state before the first exchange.
    */
  val PairBytesPerTask: Long = 1L << 20

  /** Scoped shuffle-partition override for the queries whose shuffles
    * carry the exploded posting/pair streams of the shared docsets
    * build (`dedup_ngram_jaccard`, `dedup_containment`,
    * `dedup_cluster_sizes`, `dedup_near_apply`: ~25 hashed keys per
    * doc, plus the collect_list array states of the per-doc
    * aggregate). At the session's cpu-count shuffle partitions the
    * per-task aggregate state crosses the spill tier around ×1000 the
    * gate — and containment's shuffle_hash build side outgrows a
    * task's execution memory entirely ("Can't acquire ... to build
    * hash relation", the r14 sf100 base arm's hard error). This gives
    * them reduce tasks ∝ the documents fixture instead. Measured at
    * sf100 (r14, same host back-to-back, builds separated): docsets
    * build 251.7→159.3 s, ngram_jaccard 231.8→29.5 s with 122.8 GB mem
    * + 53.1 GB disk spill → ZERO, containment error→39.2 s, CC label
    * build 105.6→42.9 s; at sf10 the family is flat (the spill tier
    * isn't crossed either way) and at sf0.1 the conf is a no-op (the
    * cpus floor binds).
    *
    * The wideAggConf discipline: set around one query's build +
    * execution by the harnesses, never session-wide. Values never
    * change results (every covered query is exact-typed and
    * oracle-checked under the conf).
    */
  val pairShuffleConf: (String, Int) => Map[String, String] =
    QuerySpec.dataSizedShuffle("documents", PairBytesPerTask)

  lazy val specs: Map[String, QuerySpec] = Map(
    // Exact dedup: one row per distinct normalized text, keeper = min id.
    "dedup_exact" -> QuerySpec((s, dir) =>
      docs(s, dir)
        .groupBy(sha2(lower(col("text")), 256).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("text_hash"),
      """SELECT sha256(lower(text)) AS text_hash,
        |  min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents
        |WHERE text IS NOT NULL AND length(text) > 0
        |GROUP BY 1 ORDER BY text_hash""".stripMargin),
    // The apply step users actually run: emit the deduplicated corpus
    // (keeper = min doc_id per normalized-text hash), one window pass.
    "dedup_apply" -> QuerySpec((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(lower(col("text")), 256))
      docs(s, dir)
        .withColumn("keeper", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keeper"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      applySql),
    "dedup_minhash_candidates" -> QuerySpec((s, dir) =>
      minhashCandidates(docs(s, dir)).orderBy("doc_a", "doc_b"),
      s"""$shCte, hb AS (
         |  SELECT doc_id, $baseHashSql AS hbase
         |  FROM (SELECT doc_id, substr(md5(s), 1, 7) AS hx FROM sh)
         |), mh AS (
         |  SELECT doc_id,
         |         $minhashSelects
         |  FROM hb GROUP BY doc_id
         |), bands AS (
         |  $bandSelects
         |), small AS (
         |  SELECT band, sig FROM bands GROUP BY 1, 2 HAVING count(*) <= $MaxBucketSize
         |), kept AS (
         |  SELECT bands.* FROM bands JOIN small USING (band, sig)
         |)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM kept a JOIN kept b
         |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),
    "dedup_minhash_est" -> QuerySpec((s, dir) =>
      minhashCalibration(docs(s, dir)).orderBy("doc_a", "doc_b"),
      // Independent two-sided-join formulation of the calibration (the
      // Spark side uses a union-tag single pass); coalesce(ix, 0) covers
      // LSH false positives with zero actual overlap.
      s"""$shCte, hb AS (
         |  SELECT doc_id, $baseHashSql AS hbase
         |  FROM (SELECT doc_id, substr(md5(s), 1, 7) AS hx FROM sh)
         |), mh AS (
         |  SELECT doc_id,
         |         $minhashSelects
         |  FROM hb GROUP BY doc_id
         |), bands AS (
         |  $bandSelects
         |), small AS (
         |  SELECT band, sig FROM bands GROUP BY 1, 2 HAVING count(*) <= $MaxBucketSize
         |), kept AS (
         |  SELECT bands.* FROM bands JOIN small USING (band, sig)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
         |), inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS ix
         |  FROM cand c
         |  JOIN sh x ON x.doc_id = c.doc_a
         |  JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
         |  GROUP BY 1, 2
         |), est AS (
         |  SELECT c.doc_a, c.doc_b,
         |         CAST($sigMatchSql AS BIGINT) AS sig_matches
         |  FROM cand c
         |  JOIN mh a ON a.doc_id = c.doc_a
         |  JOIN mh b ON b.doc_id = c.doc_b
         |), wide AS (
         |  SELECT e.doc_a, e.doc_b,
         |         CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
         |         CAST(coalesce(i.ix, 0) AS BIGINT) AS inter_n, e.sig_matches,
         |         CAST(e.sig_matches AS DOUBLE) / CAST($NumHashes.0 AS DOUBLE) AS est_jaccard,
         |         CAST(coalesce(i.ix, 0) AS DOUBLE)
         |           / CAST(na.n + nb.n - coalesce(i.ix, 0) AS DOUBLE) AS exact_jaccard
         |  FROM est e
         |  JOIN sizes na ON na.doc_id = e.doc_a
         |  JOIN sizes nb ON nb.doc_id = e.doc_b
         |  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
         |)
         |SELECT doc_a, doc_b, n_a, n_b, inter_n, sig_matches, est_jaccard,
         |       exact_jaccard, abs(est_jaccard - exact_jaccard) AS abs_err
         |FROM wide ORDER BY doc_a, doc_b""".stripMargin),
    "dedup_simhash" -> QuerySpec((s, dir) =>
      simhashSignatures(docs(s, dir)).orderBy("doc_id"),
      s"""$simhashCte
         |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin),
    "dedup_simhash_pairs" -> QuerySpec((s, dir) =>
      simhashPairs(docs(s, dir)).orderBy("doc_a", "doc_b"),
      s"""$simhashCte, chunks AS (
         |  SELECT doc_id, simhash, c AS chunk_id,
         |         substr(simhash, c * 16 + 1, 16) AS chunk
         |  FROM sig, LATERAL (SELECT unnest(generate_series(0, 3)) AS c)
         |), small AS (
         |  SELECT chunk_id, chunk FROM chunks
         |  GROUP BY 1, 2 HAVING count(*) <= $MaxBucketSize
         |), kept AS (
         |  SELECT chunks.* FROM chunks JOIN small USING (chunk_id, chunk)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.simhash AS sh_a, b.simhash AS sh_b
         |  FROM kept a JOIN kept b
         |    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
         |   AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, CAST(hamming(sh_a, sh_b) AS BIGINT) AS hamming
         |FROM cand WHERE hamming(sh_a, sh_b) <= $MaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin),
    // ngram_jaccard / containment / the CC label build are four
    // consumers of ONE df-ordered docsets table (scan → gram hashing →
    // df-cap join → views kernel): shared via [[docsetsFor]], built
    // once per (app, dir, hash mode) — memoized-eager entries, priced
    // by Bench's builds accounting.
    "dedup_ngram_jaccard" -> QuerySpec((s, dir) =>
      ngramJaccardOn(docsetsFor(s, dir)).orderBy("doc_a", "doc_b"),
      s"""$shCte, shh AS (
         |  SELECT DISTINCT doc_id, $jaccardHashSql AS s
         |  FROM (SELECT doc_id, substr(md5(s), 1, 15) AS hx FROM sh)
         |), rare AS (
         |  SELECT s FROM shh GROUP BY s HAVING count(*) <= $MaxShingleDf
         |), shf AS (
         |  SELECT shh.* FROM shh JOIN rare USING (s)
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM shf GROUP BY 1
         |), inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ix
         |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b,
         |       CAST(ix AS DOUBLE) / CAST(na.n + nb.n - ix AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes na ON na.doc_id = doc_a
         |JOIN sizes nb ON nb.doc_id = doc_b
         |WHERE CAST(ix AS DOUBLE) / CAST(na.n + nb.n - ix AS DOUBLE) >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
      conf = pairShuffleConf, build = docsetsBuild),
    "dedup_containment" -> QuerySpec((s, dir) =>
      containmentOn(docsetsFor(s, dir)),
      // Naive all-shared-pairs form on purpose — an independent
      // implementation of the asymmetric prefix-probe candidate scheme.
      s"""$shCte, shh AS (
         |  SELECT DISTINCT doc_id, $jaccardHashSql AS s
         |  FROM (SELECT doc_id, substr(md5(s), 1, 15) AS hx FROM sh)
         |), rare AS (
         |  SELECT s FROM shh GROUP BY s HAVING count(*) <= $MaxShingleDf
         |), shf AS (
         |  SELECT shh.* FROM shh JOIN rare USING (s)
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM shf GROUP BY 1
         |), inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ix
         |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b,
         |       CAST(ix AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) AS containment,
         |       CAST(ix AS DOUBLE) / CAST(na.n + nb.n - ix AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes na ON na.doc_id = doc_a
         |JOIN sizes nb ON nb.doc_id = doc_b
         |WHERE CAST(ix AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) >= $ContainmentThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
      conf = pairShuffleConf, build = docsetsBuild),
    "dedup_substring" -> QuerySpec((s, dir) => substringPairs(docs(s, dir)),
      // Same winnow-anchored algorithm mirrored operation-for-operation
      // (winnowing is part of the operator's SEMANTICS — the anchor df
      // cap binds at the anchor level, so a naive capless form would
      // diverge whenever the cap fires). The rolling-window min over
      // full windows, the anchor cap, the candidate join, and the
      // gaps-and-islands run measurement are each re-expressed in
      // DuckDB's own idiom; SubstringDedupSpec separately pins the Spark
      // side against a brute-force longest-common-run reference so a
      // mirrored bug cannot hide behind the hash match.
      s"""WITH d AS (
         |$dBody
         |), gr AS (
         |  SELECT doc_id, i AS pos,
         |         substr(md5(array_to_string(list_slice(toks, i, i + ${SubstrGram - 1}), ' ')), 1, 15) AS hx
         |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - ${SubstrGram - 1}, 0))) AS i)
         |), g AS (
         |  SELECT doc_id, pos, $jaccardHashSql AS hk FROM gr
         |), wm AS (
         |  SELECT doc_id, pos,
         |         min(hk) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN CURRENT ROW AND ${SubstrWinnow - 1} FOLLOWING) AS anchor,
         |         count(*) OVER (PARTITION BY doc_id) AS m
         |  FROM g
         |), anch AS (
         |  SELECT DISTINCT doc_id, anchor FROM wm WHERE pos <= m - $SubstrWinnow + 1
         |), ok AS (
         |  SELECT anchor FROM anch GROUP BY anchor
         |  HAVING count(*) >= 2 AND count(*) <= $SubstrMaxAnchorDf
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM anch a JOIN ok ON ok.anchor = a.anchor
         |  JOIN anch b ON b.anchor = a.anchor AND a.doc_id < b.doc_id
         |), mt AS (
         |  SELECT c.doc_a, c.doc_b, ga.pos AS pa, gb.pos AS pb
         |  FROM cand c
         |  JOIN g ga ON ga.doc_id = c.doc_a
         |  JOIN g gb ON gb.doc_id = c.doc_b AND gb.hk = ga.hk
         |), runs AS (
         |  SELECT doc_a, doc_b, pa - pb AS diag, pa,
         |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
         |  FROM mt
         |), rc AS (
         |  SELECT doc_a, doc_b, count(*) AS cnt
         |  FROM runs GROUP BY doc_a, doc_b, diag, grp
         |)
         |SELECT doc_a, doc_b,
         |       CAST(max(cnt) + ${SubstrGram - 1} AS BIGINT) AS span_tokens,
         |       CAST(sum(cnt) AS BIGINT) AS n_shared
         |FROM rc GROUP BY doc_a, doc_b
         |HAVING max(cnt) + ${SubstrGram - 1} >= $SubstrMinSpan
         |ORDER BY doc_a, doc_b""".stripMargin,
      build = QuerySpec.Eager(
        "NOTHING to the driver: the df-capped candidate-pair table and the semi-join-pruned positional postings are lazy-localCheckpointed, and under AQE wrapping a plan in a checkpoint RDD materializes its stages at build",
        "pairs ≤ Σ df²/2 per capped anchor bucket; postings = candidate docs only")),
    "dedup_incremental" -> QuerySpec((s, dir) => incrementalDedup(docs(s, dir)),
      incrementalSql),
    // Same verdicts through the standing-index path: corpus signatures
    // precomputed once (corpusIndex), delta joins against them — the
    // repeated-day shape. Shares dedup_incremental's oracle (the two
    // forms are row-identical by construction, also spec-pinned).
    "dedup_incremental_reuse" -> QuerySpec((s, dir) => {
      val d = docs(s, dir)
      incrementalDedupAgainst(d.filter(isDelta(col("doc_id"))),
        corpusIndex(d.filter(!isDelta(col("doc_id")))))
    },
      incrementalSql),
    // The end-to-end NEAR-dedup apply a pipeline actually runs:
    // candidates → Jaccard-verified pairs → connected components →
    // keep min doc_id per cluster, drop the rest. FULLY distributed
    // since r10 (and exact CC to fixpoint since r11): the min-label
    // propagation runs as Spark joins over the pair table
    // ([[nearDupLabels]], per-round materialized), so the pair stream
    // NEVER crosses the driver — total pair count can grow with the
    // corpus without a driver bottleneck. [[propagateDriver]] survives
    // as the spec oracle only (DedupSpec pins distributed/driver
    // parity). The label side of the final join is node-bounded,
    // corpus-small; AQE picks broadcast when it fits rather than a
    // hardcoded hint that would OOM the driver at 100 TB. The label
    // pass is shared with `dedup_cluster_sizes` via [[labelsFor]] —
    // one (pairs → labels) computation, two consumers.
    "dedup_near_apply" -> QuerySpec((s, dir) => {
      val labels = labelsFor(s, dir).withColumnRenamed("node", "doc_id")
      docs(s, dir).join(labels, Seq("doc_id"), "left")
        .filter(col("lbl").isNull || col("lbl") === col("doc_id"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      // keep = admitted docs that are either unpaired or their cluster's
      // min doc_id (lcc = exact component minima via the recursive CTE,
      // matching the Spark side's fixpoint labels on any graph)
      s"""${recursiveWith(jaccardPairCtes)}$labelCtes
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d LEFT JOIN lcc l ON l.node = d.doc_id
         |WHERE d.text IS NOT NULL AND length(d.text) > 0
         |  AND (l.node IS NULL OR l.lbl = d.doc_id)
         |ORDER BY doc_id""".stripMargin,
      conf = pairShuffleConf, build = labelsBuild),
    "dedup_bucket_stats" -> QuerySpec((s, dir) => bucketStats(docs(s, dir)),
      // One WITH composes all three candidate-generation chains (the CTE
      // bodies above exist exactly for this — duplicate CTE names are
      // illegal). The empty-filter agg emits one row of (0, NULL→0), so
      // the always-emit-3-rows contract holds in both engines. sum(sz)
      // is HUGEINT in DuckDB — cast back to BIGINT to match Spark's long.
      s"""WITH d AS (
         |$dBody
         |), sh AS (
         |$shBody
         |), hb AS (
         |$hbBody
         |), mh AS (
         |$mhBody
         |), bands AS (
         |  $bandSelects
         |)$simhashSigCtes, chunks AS (
         |$chunksBody
         |), shh AS (
         |$shhBody
         |), jac_drop AS (
         |  SELECT count(*) AS db, CAST(coalesce(sum(sz), 0) AS BIGINT) AS dp
         |  FROM (SELECT s, count(DISTINCT doc_id) AS sz FROM shh GROUP BY 1)
         |  WHERE sz > $MaxShingleDf
         |), mh_drop AS (
         |  SELECT count(*) AS db, CAST(coalesce(sum(sz), 0) AS BIGINT) AS dp
         |  FROM (SELECT band, sig, count(*) AS sz FROM bands GROUP BY 1, 2)
         |  WHERE sz > $MaxBucketSize
         |), sim_drop AS (
         |  SELECT count(*) AS db, CAST(coalesce(sum(sz), 0) AS BIGINT) AS dp
         |  FROM (SELECT chunk_id, chunk, count(*) AS sz FROM chunks GROUP BY 1, 2)
         |  WHERE sz > $MaxBucketSize
         |)
         |SELECT method, dropped_buckets, dropped_postings FROM (
         |  SELECT 'jaccard_shingle' AS method, db AS dropped_buckets, dp AS dropped_postings FROM jac_drop
         |  UNION ALL SELECT 'minhash_lsh', db, dp FROM mh_drop
         |  UNION ALL SELECT 'simhash_chunk', db, dp FROM sim_drop
         |) ORDER BY method""".stripMargin,
      build = QuerySpec.Eager(
        "the 3-row cap-audit summary (re-entered as a local frame so no state survives the return)",
        "3 rows")),
    // Decontaminate the training corpus (every source but src0) against
    // the pseudo-benchmark (src0): emit the admitted corpus docs with no
    // 5-gram overlap into the eval set.
    "dedup_decontaminate" -> QuerySpec((s, dir) => {
      val d = docs(s, dir)
      decontaminate(
        d.filter(col("source") =!= lit(DecontamEvalSource)),
        d.filter(col("source") === lit(DecontamEvalSource)))
        .orderBy("doc_id")
    },
      // Decontamination mirrors the Spark semi/anti chain on the same
      // 60-bit hashed 5-grams (collision behavior shared — a chance key
      // collision with the eval set drops the doc on both engines). Both
      // decontamination oracles graft onto [[decontamCtes]], the mirror of
      // the shared contaminatedPostings chain.
      decontaminateOracle),
    "dedup_decontaminate_report" -> QuerySpec((s, dir) => {
      val d = docs(s, dir)
      decontaminationReport(
        d.filter(col("source") =!= lit(DecontamEvalSource)),
        d.filter(col("source") === lit(DecontamEvalSource)))
        .orderBy("doc_id")
    },
      s"""$decontamCtes
         |SELECT doc_id, count(DISTINCT keyed.shk) AS n_shared_keys
         |FROM keyed JOIN ev ON keyed.shk = ev.shk
         |WHERE source <> '$DecontamEvalSource'
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin),
    // Same result as dedup_decontaminate (same oracle) behind the bloom
    // pre-filter — eager at build (the collected eval-key sketch).
    "dedup_decontaminate_bloom" -> QuerySpec((s, dir) => {
      val d = docs(s, dir)
      decontaminateBloom(
        d.filter(col("source") =!= lit(DecontamEvalSource)),
        d.filter(col("source") === lit(DecontamEvalSource)))
        .orderBy("doc_id")
    },
      decontaminateOracle,
      build = QuerySpec.Eager(
        "the bloom sketch over the eval side's distinct shingle keys, re-entered as a foldable literal predicate on the corpus scan (false positives removed by the exact semi-join, so the result is hash-identical to `dedup_decontaminate`)",
        "DecontamBloomKeys·10 bits ≈ 1.3 MB")),
    "dedup_source_overlap" -> QuerySpec((s, dir) =>
      sourceOverlap(docs(s, dir)).orderBy("src_a", "src_b"),
      // Reuses the decontamination CTE chain's keyed(doc_id, source, shk)
      // (the trailing ev CTE rides along unused — legal SQL). Same 60-bit
      // md5-prefix keys as the Spark side, so collision behavior is
      // shared.
      s"""$decontamCtes, sk AS (
         |  SELECT DISTINCT source, shk FROM keyed
         |), cnt AS (
         |  SELECT source, count(*) AS nkeys FROM sk GROUP BY 1
         |), shp AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_keys
         |  FROM sk a JOIN sk b ON a.shk = b.shk AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT ca.source AS src_a, cb.source AS src_b,
         |       ca.nkeys AS keys_a, cb.nkeys AS keys_b,
         |       coalesce(shp.shared_keys, 0) AS shared_keys,
         |       CAST(coalesce(shp.shared_keys, 0) AS DOUBLE)
         |         / CAST(ca.nkeys + cb.nkeys - coalesce(shp.shared_keys, 0) AS DOUBLE)
         |         AS jaccard
         |FROM cnt ca JOIN cnt cb ON ca.source < cb.source
         |LEFT JOIN shp ON shp.src_a = ca.source AND shp.src_b = cb.source
         |ORDER BY src_a, src_b""".stripMargin,
      build = QuerySpec.Eager(
        "the (src_a, src_b) presence/co-presence counts off ONE corpus scan (shk-keyed collect_set + in-array pair expansion); the dense grid + Jaccard assemble on the driver",
        "≤ sources² rows")),
    // Component-size histogram over near_apply's labels: the SAME
    // label pass (shared via [[labelsFor]] — r10 re-ran the entire
    // ngram chain + CC rounds here), then two bounded aggregates —
    // label cardinality, then size cardinality — entirely on
    // executors.
    "dedup_cluster_sizes" -> QuerySpec((s, dir) =>
      labelsFor(s, dir)
        .groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size"),
      s"""${recursiveWith(jaccardPairCtes)}$labelCtes, sizes AS (
         |  SELECT lbl, count(*) AS sz FROM lcc GROUP BY 1
         |)
         |SELECT sz AS cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,
      conf = pairShuffleConf, build = labelsBuild)
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = QuerySpec.builds(specs)

  /** Standing per-fixture label index: `dedup_near_apply` and
    * `dedup_cluster_sizes` are two consumers of ONE (verified pairs →
    * fixpoint labels) pass, so the materialized node-bounded label
    * table is computed once per (application, dir) and shared — the
    * product shape for a real pipeline, where labels are computed once
    * and every consumer (apply, histogram, audit) derives from them.
    * The memo ([[graft.Memo.frame]]) holds only checkpoint-backed label
    * tables (node-bounded, KBs at fixture scale). Raw (pre-distinct)
    * pair stream in: label propagation is duplicate-insensitive, so the
    * distinct exchange is skipped and the cap-bounded duplicates ride
    * along.
    */
  private def labelsFor(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "cc_labels")(
      nearDupLabels(ngramJaccardPairsOn(docsetsFor(s, dir), JaccardThreshold)
        .select("doc_a", "doc_b")))

  /** Standing per-fixture docsets table: `dedup_ngram_jaccard`,
    * `dedup_containment`, and the CC label build ([[labelsFor]]) all
    * start from the SAME df-ordered docsets (scan → per-doc distinct
    * gram hashing → df-cap count+join → views kernel) — at sf10 that
    * subtree is the dominant cost of each consumer, re-executed per
    * query before r13. Built once per (application, dir, hash mode)
    * and memoized as an EAGER localCheckpoint: the checkpointed
    * LogicalRDD keeps the barrier's hashpartitioning(doc_id), so every
    * consumer's doc_id join-back stays exchange-free, exactly as with
    * the in-query barrier. Corpus-sized (unlike the node-bounded label
    * memo), so the block manager's MEMORY_AND_DISK tier is the spill
    * path; a production deployment materializes this table to durable
    * storage instead (the [[CorpusIndex]] standing-index shape —
    * localCheckpoint does not survive executor loss). Keyed by hash
    * mode because the keys themselves differ under
    * [[graft.functions.PortableHash]] production mode.
    */
  private def docsetsFor(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val production = graft.functions.PortableHash.enabled(d)
    graft.Memo.frame(s, dir, "docsets", s"production=$production")(
      dfOrderedDocsets(d, production, MaxShingleDf).localCheckpoint())
  }

  // ---- DuckDB oracle SQL ------------------------------------------------

  /** CTE bodies, kept separate so the bucket-stats oracle can compose
    * the minhash, simhash, and jaccard chains into ONE statement
    * (duplicate CTE names are illegal in a single WITH).
    */
  private val dBody: String =
    s"""  SELECT doc_id,
      |         ${graft.text.Tokenize.whitespaceTokensSql} AS toks
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0""".stripMargin

  private val shBody: String =
    s"""  SELECT DISTINCT doc_id,
       |         array_to_string(list_slice(toks, i, i + ${ShingleSize - 1}), ' ') AS s
       |  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - ${ShingleSize - 1}, 0))) AS i)""".stripMargin

  /** Shared CTE prefix: admitted docs → tokens → distinct shingles. */
  private val shCte: String =
    s"""WITH d AS (
       |$dBody
       |), sh AS (
       |$shBody
       |)""".stripMargin

  /** Positional hex→int build of the 7-digit base hash (DuckDB has no
    * conv(); Spark's conv(…,16,10) computes the identical value).
    */
  private val baseHashSql: String =
    (1 to 7).map(k =>
      s"(strpos('0123456789abcdef', substr(hx, $k, 1)) - 1) * ${math.pow(16, 7 - k).toLong}")
      .mkString(" + ")

  /** Same positional build for the 15-digit (60-bit) jaccard shingle key. */
  private val jaccardHashSql: String =
    (1 to 15).map(k =>
      s"(strpos('0123456789abcdef', substr(hx, $k, 1)) - 1) * ${java.math.BigInteger.valueOf(16).pow(15 - k)}")
      .mkString(" + ")

  private val minhashSelects: String =
    minHashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * hbase + $b) % $MinHashP) AS h$i"
    }.mkString(",\n         ")

  /** Component-agreement count between two aliased mh rows (a, b). */
  private val sigMatchSql: String =
    (0 until NumHashes).map(i =>
      s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")

  private val bandSelects: String =
    (0 until Bands).map { b =>
      val sig = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM mh"
    }.mkString("\n  UNION ALL ")

  private val simhashDigits: String =
    (1 to 16).map(p =>
      s"strpos('0123456789abcdef', substr(h, $p, 1)) - 1 AS dv$p")
      .mkString(",\n         ")

  private val simhashBitSums: String =
    (0 until SimHashBits).map { b =>
      val p = b / 4 + 1
      val shift = 3 - b % 4
      s"sum((((dv$p >> $shift) & 1) * 2 - 1) * cnt) AS s$b"
    }.mkString(",\n         ")

  private val simhashConcat: String =
    (0 until SimHashBits).map(b =>
      s"CASE WHEN s$b > 0 THEN '1' ELSE '0' END").mkString(" || ")

  private val hbBody: String =
    s"""  SELECT doc_id, $baseHashSql AS hbase
       |  FROM (SELECT doc_id, substr(md5(s), 1, 7) AS hx FROM sh)""".stripMargin

  private val mhBody: String =
    s"""  SELECT doc_id,
       |         $minhashSelects
       |  FROM hb GROUP BY doc_id""".stripMargin

  private val shhBody: String =
    s"""  SELECT doc_id, $jaccardHashSql AS s
       |  FROM (SELECT doc_id, substr(md5(s), 1, 15) AS hx FROM sh)""".stripMargin

  private val chunksBody: String =
    """  SELECT doc_id, simhash, c AS chunk_id,
      |         substr(simhash, c * 16 + 1, 16) AS chunk
      |  FROM sig, LATERAL (SELECT unnest(generate_series(0, 3)) AS c)""".stripMargin

  /** tc → dg → bits → sig chain (leading comma — appends after a CTE),
    * so the simhash oracles AND the bucket-stats oracle can graft it
    * onto their own `WITH d AS (…)` prefix without duplicating `d`.
    */
  private val simhashSigCtes: String =
    s""", tc AS (
       |  SELECT doc_id, t, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY 1, 2
       |), dg AS (
       |  SELECT doc_id, cnt,
       |         $simhashDigits
       |  FROM (SELECT doc_id, cnt, substr(md5(t), 1, 16) AS h FROM tc)
       |), bits AS (
       |  SELECT doc_id,
       |         $simhashBitSums
       |  FROM dg GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, $simhashConcat AS simhash FROM bits
       |)""".stripMargin

  /** CTE producing sig(doc_id, simhash) — shared by both simhash oracles. */
  private val simhashCte: String =
    s"""WITH d AS (
       |$dBody
       |)$simhashSigCtes""".stripMargin

  /** The ngram-Jaccard verified-pair chain as CTEs ending in
    * jp(doc_a, doc_b) — shared by the `dedup_near_apply` oracle.
    */
  private val jaccardPairCtes: String =
    s"""$shCte, shh AS (
       |  SELECT DISTINCT doc_id, $jaccardHashSql AS s
       |  FROM (SELECT doc_id, substr(md5(s), 1, 15) AS hx FROM sh)
       |), rare AS (
       |  SELECT s FROM shh GROUP BY s HAVING count(*) <= $MaxShingleDf
       |), shf AS (
       |  SELECT shh.* FROM shh JOIN rare USING (s)
       |), jsizes AS (
       |  SELECT doc_id, count(*) AS n FROM shf GROUP BY 1
       |), jinter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ix
       |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), jp AS (
       |  SELECT doc_a, doc_b
       |  FROM jinter
       |  JOIN jsizes na ON na.doc_id = doc_a
       |  JOIN jsizes nb ON nb.doc_id = doc_b
       |  WHERE CAST(ix AS DOUBLE) / CAST(na.n + nb.n - ix AS DOUBLE) >= $JaccardThreshold
       |)""".stripMargin

  /** TRUE connected components as a recursive CTE, appended after
    * [[jaccardPairCtes]] (r11 — the previous fixed ClusterRounds CTE
    * chain matched the implementation, not ground truth, beyond
    * diameter 4): `reach` accumulates every (node, component-mate)
    * pair over the symmetrized edge list — bounded by Σ|component|²,
    * fine at the cap-bounded pair scale the oracle runs at — and `lcc`
    * takes the min per node, which is exactly the fixpoint
    * [[nearDupLabels]] computes. Statements using this must open with
    * WITH RECURSIVE ([[recursiveWith]]).
    */
  private val labelCtes: String =
    s""", e0 AS (
       |  SELECT doc_a AS u, doc_b AS v FROM jp
       |  UNION ALL SELECT doc_b AS u, doc_a AS v FROM jp
       |), reach AS (
       |  SELECT DISTINCT u AS node, u AS lbl FROM e0
       |  UNION
       |  SELECT e0.u AS node, reach.lbl FROM e0 JOIN reach ON reach.node = e0.v
       |), lcc AS (
       |  SELECT node, min(lbl) AS lbl FROM reach GROUP BY node
       |)""".stripMargin

  /** DuckDB (like standard SQL) requires the statement to open with
    * `WITH RECURSIVE` when ANY member of the CTE list is recursive;
    * non-recursive members are unaffected by the keyword.
    */
  private def recursiveWith(cte: String): String =
    cte.replaceFirst("^WITH ", "WITH RECURSIVE ")

  /** Shared decontamination CTE chain ending in keyed(doc_id, source,
    * shk) and ev(shk) — the SQL mirror of [[contaminatedPostings]].
    */
  private val decontamCtes: String =
    s"""WITH dd AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         ${graft.text.Tokenize.whitespaceTokensSql} AS toks
       |  FROM documents
       |  WHERE text IS NOT NULL AND length(text) > 0
       |), shd AS (
       |  SELECT DISTINCT doc_id, source,
       |         array_to_string(list_slice(toks, i, i + ${DecontamShingle - 1}), ' ') AS s
       |  FROM dd, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - ${DecontamShingle - 1}, 0))) AS i)
       |), keyed AS (
       |  SELECT doc_id, source, $jaccardHashSql AS shk
       |  FROM (SELECT doc_id, source, substr(md5(s), 1, 15) AS hx FROM shd)
       |), ev AS (
       |  SELECT DISTINCT shk FROM keyed WHERE source = '$DecontamEvalSource'
       |)""".stripMargin

  /** Shared by `dedup_decontaminate` and its bloom-prefiltered twin:
    * the sketch only PRE-filters, the exact semi-join decides, so both
    * registry entries are hash-identical to this one SQL.
    */
  private val decontaminateOracle: String =
    s"""$decontamCtes, hits AS (
       |  SELECT DISTINCT keyed.doc_id FROM keyed JOIN ev USING (shk)
       |  WHERE source <> '$DecontamEvalSource'
       |)
       |SELECT dd.doc_id, dd.lang, dd.source, dd.n_chars
       |FROM dd LEFT JOIN hits ON hits.doc_id = dd.doc_id
       |WHERE dd.source <> '$DecontamEvalSource' AND hits.doc_id IS NULL
       |ORDER BY dd.doc_id""".stripMargin

  /** `dedup_apply`'s keeper set; the streaming replay must reproduce it
    * exactly, so it shares this oracle.
    */
  val applySql: String =
    """SELECT doc_id, lang, source, n_chars FROM (
      |  SELECT doc_id, lang, source, n_chars,
      |         min(doc_id) OVER (PARTITION BY sha256(lower(text))) AS keeper
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0)
      |WHERE doc_id = keeper
      |ORDER BY doc_id""".stripMargin

  /** Two-sided-join formulation of the delta-vs-corpus screen (the
    * Spark side splits one bucket aggregate by the delta flag). The
    * standing-index path must reproduce the single-shot verdicts
    * bit-for-bit, so `dedup_incremental_reuse` shares it.
    */
  private val incrementalSql: String =
    s"""$shCte, hb AS (
       |$hbBody
       |), mh AS (
       |$mhBody
       |), bands AS (
       |  $bandSelects
       |), corpus_b AS (
       |  SELECT band, sig, doc_id FROM bands
       |  WHERE doc_id % $DeltaMod <> ${DeltaMod - 1}
       |), small AS (
       |  SELECT band, sig FROM corpus_b GROUP BY 1, 2
       |  HAVING count(*) <= $MaxBucketSize
       |), near AS (
       |  SELECT db.doc_id, count(DISTINCT cb.doc_id) AS near_partners
       |  FROM bands db
       |  JOIN small USING (band, sig)
       |  JOIN corpus_b cb USING (band, sig)
       |  WHERE db.doc_id % $DeltaMod = ${DeltaMod - 1}
       |  GROUP BY 1
       |), h AS (
       |  SELECT doc_id, sha256(lower(text)) AS th FROM documents
       |  WHERE text IS NOT NULL AND length(text) > 0
       |), corpus_h AS (
       |  SELECT DISTINCT th FROM h WHERE doc_id % $DeltaMod <> ${DeltaMod - 1}
       |), ex AS (
       |  SELECT h.doc_id, (c.th IS NOT NULL) AS exact_dup
       |  FROM h LEFT JOIN corpus_h c ON h.th = c.th
       |  WHERE h.doc_id % $DeltaMod = ${DeltaMod - 1}
       |)
       |SELECT ex.doc_id, ex.exact_dup,
       |       coalesce(near.near_partners, 0) AS near_partners,
       |       CASE WHEN ex.exact_dup THEN 'exact_dup'
       |            WHEN coalesce(near.near_partners, 0) > 0 THEN 'near_candidate'
       |            ELSE 'new' END AS verdict
       |FROM ex LEFT JOIN near USING (doc_id)
       |ORDER BY doc_id""".stripMargin
}
