package graft

import java.nio.file.{Files, Paths}

/** Writes docs/PLANS.md: the formatted physical plan of each headline
  * query plus the scale-relevant observations to look for in it. Run
  * after plan-affecting changes: `sbt "runMain graft.PlanDump [sfDir]"`.
  * With a comma list of query names,
  * `sbt "runMain graft.PlanDump <sfDir> q1,q2"` prints those queries'
  * plans to stdout instead and leaves docs/PLANS.md alone.
  */
object PlanDump {

  private val Headliners = Seq(
    "rel_disjunctive_revenue" ->
      "The cross-table-OR showcase (TPC-H Q19 shape): Catalyst cannot factor an OR spanning both join sides, so each side carries its own explicit disjunctive hull — the part scan's PushedFilters shows the brand/size Or(...) tree and the lineitem scan the quantity envelope (RelationalSpec pins both) — and the exact three-branch predicate runs as the post-join residual. Without the hulls both scans read everything and the OR evaluates on the full join output.",
    "dedup_near_apply" ->
      "End-to-end near-dedup with DISTRIBUTED connected components, exact to FIXPOINT since r11: the cap-bounded verified pair table feeds min-label propagation rounds (neighbor min + pointer-doubling label-of-label hop, so convergence is O(log diameter)), each round's node-bounded label table materialized via eager localCheckpoint (or reliable checkpoint when a dir is given) with a changed-flag probe over the fresh blocks deciding convergence; no edge or label crosses the driver, the final label table enters one AQE-broadcast corpus left-join, and the label pass is shared with dedup_cluster_sizes through a per-fixture cache.",
    "chi2_top_terms" ->
      "One explode of the fused graft_doc_terms tokenizer (no lambda in the Generate) feeds the (term, category) count, whose ONE shuffle NarrowAggExchange keys by term alone, so the t_total window (sum(a) over term) reads it without a second exchange. Two scans: the tokens and the category totals. The category totals gather in one task (`coalesce(1)`) that also sums them into N and carries N on every row, so one broadcast holds both (no second read of their exchange, no separate N stage or broadcast); WindowGroupLimit bounds the top-k shuffle, and `coalesce(1)` runs the window-final and the sort in one task over its ≤ k·|cats|·P survivors (no SinglePartition exchange, no range-partition sampling job). 5 Spark jobs per run.",
    "dedup_minhash_candidates" ->
      "Signature stage is ONE narrow map: the native graft_minhash kernel folds all 16 affine minima per doc straight off the token array, once per doc (no shingle explode, no doc_id exchange — the column chain kept that shape and is spec-pinned bit-equal in both hash modes); docs too short to sign leave through an explode of nothing, which Catalyst cannot push below the signing projection as it would a Filter; the first shuffle in the whole query is the (band, sig) bucket aggregate, and pairs expand in-bucket through `Candidates.inBucket`, the oversized-bucket guard upstream of the expansion.",
    "dedup_ngram_jaccard" ->
      "Reads the memoized df-ordered docsets table (one checkpointed row per document: its kept shingle keys sorted by value, the same keys in (df, key) order, and their count), never the corpus: the plan starts at `Scan ExistingRDD`, with no gram-keys kernel and no df count (NgramPlanSpec). Only each document's PPJoin prefix (its n − ⌊t·n⌋ + 1 rarest keys) is exploded, into scalar (shk, doc_id, n) postings; a prefix self-join on shk enumerates the candidates and a distinct collapses pairs that share several prefix keys before any array moves. Exact verification joins both documents' sorted key sets back once per candidate (`Candidates.joinBack`) and intersects them with the two-pointer graft_sorted_ix kernel. Three joins in all, broadcast at fixture scale, and no aggregate holds array state keyed on a shingle.",
    "sim_cosine_ann_lsh" ->
      "Bucket equi-join between the broadcast query batch and the corpus; dot products are the native graft_dot codegen expression.",
    "sim_cosine_ann_ivf" ->
      "Narrow-map cell assignment (16 broadcast centroid dots per row), nprobe=2 probe join touches only the probed cells' members.",
    "rel_top_orders" ->
      "Orders semi-reduced by the broadcast BUILDING-customer filter BEFORE the wide lineitem join; filter pushed to the customer scan.",
    "events_sessionize" ->
      "One shuffle on user_id; lag and running-sum windows share the partitioning; final aggregate reuses it.",
    "rel_range_join" ->
      "Time-banded self equi-join on (user, bucket): no nested-loop, exact predicate only on in-bucket candidates.",
    "dedup_decontaminate" ->
      "Eval-set shingle keys BROADCAST into a semi-join (the corpus never shuffles for the membership test); the small contaminated-id set then feeds a broadcast anti-join. Both joins degrade gracefully to shuffle joins if either side outgrows the broadcast threshold.",
    "dedup_decontaminate_bloom" ->
      "Same result as dedup_decontaminate behind a ~10 bits/key bloom sketch: the eval keys collapse into one binary literal (BloomFilterAggregate, collected at build), might_contain discards the clean corpus postings inside the codegen'd scan stage, and only the ~1% survivors reach the exact broadcast semi-join that removes false positives — the scale path for when the eval key set outgrows a comfortable broadcast hash set.",
    "rel_top_supplier" ->
      "Max-over-aggregate with ties: the per-supplier revenue exchange is planned ONCE — an explicit suppkey null-filter makes the aggregate subtree identical under both consumers, so the 1-row max branch reads a ReusedExchange instead of re-scanning the fact table; the argmax equality then joins against the broadcast max in exact DECIMAL.",
    "rel_big_orders" ->
      "HAVING-sum membership: lineitem collapses map-side to per-order quantity sums before its only exchange; the threshold filter cuts to ~1-2% of orders; TakeOrderedAndProject takes the top-100 BEFORE the customer attach, so the name join broadcasts exactly 100 rows rather than the full qualified set.",
    "rel_dominant_supplier" ->
      "Nested half-sum quantifier as a pure two-level aggregate: (part, year, supplier) collapses line volume map-side, (part, year) collapses cells — a window formulation would re-shuffle and re-sort the cell stream with no partial collapse, since a 2-key window partition is not satisfied by the 3-key aggregate partitioning. The dominant supplier is necessarily the cell argmax (x > sum-x), so max(struct) carries it through the second aggregate.",
    "events_attribution" ->
      "Horizon-banded view-purchase equi-join on (user, bucket): purchases probe two buckets, views carry one, so each qualifying pair matches exactly once — no post-join distinct, no theta-join.",
    "events_funnel" ->
      "Three chained conditional window-mins stack on ONE user_id exchange (same partitioning, no re-shuffle between stages); the stage histogram is a bounded final aggregate.",
    "events_retention" ->
      "Cohort day attaches via a window over the single user_id exchange — no self-join back to a first-seen aggregate; the (cohort, offset) matrix aggregate is bounded by days², independent of event volume.",
    "text_tfidf" ->
      "Linear chain, ONE corpus scan for tf: the (doc, term) count shuffles once, keyed by term alone (NarrowAggExchange drops the hash(doc_id, t) exchange the aggregate would otherwise get), and df attaches via a count window over term on that same partitioning (a tf-join-df formulation planned the scan+tokenize+tf subtree twice - HOF lambdas defeat exchange reuse); N broadcasts (1-row cross); WindowGroupLimit bounds the per-doc top-k.",
    "sim_centroid_outliers" ->
      "Exact decimal-sum centroids (labels x Dim rows) broadcast into ONE narrow corpus pass; the per-label top-k is WindowGroupLimit-bounded. The decimal partial sums are mergeable map-side, so the centroid aggregate survives any cluster size.",
    "events_top_sessions" ->
      "The shared sessionize chain (one user_id exchange, stacked windows) feeds TakeOrderedAndProject: per-partition top-k heaps, k rows to the driver — no global sort.",
    "text_repetition" ->
      "ZERO shuffles, zero gram materialization: per-doc multiplicity stats computed by the codegen'd graft_gram_stats kernel straight off the token array (window-offset sort + token-wise compare — no concat_ws gram strings, whose HOF transform was the dominant cost once the shuffles were gone). The prior explode + (doc,n,gram) count + doc-keyed aggregates shuffled every gram occurrence twice — kept as repetitionByGroup, spec-pinned equal. 1.81 s → 0.84 s at sf0.1.",
    "text_pack" ->
      "Shard-local running sum: one exchange on source, integer `div` bin arithmetic, bounded (source, bin) final aggregate — never a global single-partition window.",
    "events_anomaly" ->
      "Dense type×hour grid (bounded: types × hours, independent of event volume) left-joins the one-shuffle hourly aggregate; per-type moments attach as WINDOW aggregates over event_type on the dense frame — a stats-groupBy joined back planned the whole grid+hourly subtree twice (explain-verified before the rewrite).",
    "dedup_minhash_est" ->
      "The per-doc feature table (sorted shingle-key set + 16 signature minima, both native kernels off the token array — one narrow map, no explode) is a LAZY localCheckpoint since r17: its three consumers (bucket chain + both verify join-back sides) read the one persisted copy, where the r16 repartition barrier was defeated by column pruning (different pruned exchange children → no exchange reuse → scan+kernels ran twice; plan went 6 scans/16 Exchanges → 0 re-scans/10). Candidate pairs come from the same `Candidates.inBucket` step as dedup_minhash_candidates; exact verification attaches both docs' key sets and signatures through `Candidates.joinBack` on the checkpointed features, and the two-pointer sorted-intersect kernel replaces array_intersect.",
    "sim_semdedup" ->
      "Zero-shuffle cell assignment (16 literal centroid dots per row, same narrow map as IVF); ONE cell_id exchange carries both the count-window size guard and the per-cell collect_list, and pairs expand IN-ARRAY inside cap-admitted cells through `Candidates.expand` (the count window admits a cell before its 64-double members are collected, so no member array outgrows the cap; the a×b self-join planned the assignment subtree four times — 1.75 → 0.92 s at sf0.1); the drop set re-attaches via a left join keyed on vec_id. At scale NumCells is the lever that keeps cells pair-expandable and the cell_id shuffle healthy.",
    "text_unigram_logprob" ->
      "ORDER-FREE fixed-point form (r16): vocab counts come from a vocabulary-sized aggregate, each term's log2 weight quantizes ONCE to q = floor(log2(cnt)·2^38 + 0.5), and the per-doc score is the exact integer Σ tf·q — commutative, so bit-identical under any partitioning/merge order with NO corpus sort and NO per-doc list materialization (the r15 window+array_sort(collect_list) canonical fold, the sf100 in-suite spill pair, is gone; UnigramPlanSpec asserts zero SortExec). tf attaches q via a hinted shuffled-hash join; the grand total stays a narrow scan-sum on a 1-row broadcast; the portable log2 is the native graft_log2 kernel, evaluated once per VOCAB TERM.",
    "text_filter_funnel" ->
      "One corpus scan computes the shared quality features map-side; the first-failing-stage CASE collapses into a 4-group aggregate; the dense stage grid left-joins it (broadcast, 4 rows) and the share window runs over the grid, never the corpus.",
    "rel_small_qty_revenue" ->
      "Correlated subquery (qty < 0.2x the part's avg) decorrelated into sum/count windows over ONE l_partkey exchange - lineitem is scanned once where the textbook aggregate+join-back scans and shuffles it twice (RelationalSpec pins the one-scan shape); the predicate stays in exact integer-valued DECIMAL (5*qty*cnt < sum), and the part join is unhinted so AQE broadcasts at fixture scale / shuffles on the already-partitioned key at full scale.")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val named = args.lift(1).map(list => Runner.select(Some(list)))
    val runner = Runner("plandump")
    def plan(name: String): String =
      runner.run(name, dir)(build => Runner.explain(build()))
        .fold(msg => sys.error(s"$name: $msg"), identity)
    named match {
      case Some(names) => names.foreach(n => println(s"## $n\n\n${plan(n)}"))
      case None =>
        val sb = new StringBuilder
        sb ++= "# Physical plans of the headline queries\n\n"
        sb ++= s"Generated by `graft.PlanDump` against `$dir`.\n"
        sb ++= "Regenerate with `sbt \"runMain graft.PlanDump\"` after plan-affecting changes.\n"
        sb ++=
          """
            |## Eager-at-build registry entries
            |
            |The registry contract is lazy-at-build: constructing a query's
            |DataFrame (what `explain` does) schedules no Spark job beyond the
            |parquet footer read every `spark.read.parquet` performs. The
            |entries below are the exceptions each family module declares in
            |its `specs` map, and this table is generated from them. `Eager`
            |entries run a bounded job at every build, so `explain` on them
            |executes Spark work; `Memoized` entries run theirs once per
            |(app, fixture dir), and later builds of the same fixture schedule
            |nothing. RegistrySpec listener-counts build-time jobs and fails if
            |the declarations drift in either direction.
            |
            || Entry | Build | What it runs at build | Bound |
            ||---|---|---|---|
            |""".stripMargin
        Runner.builds.foreach {
          case (name, QuerySpec.Eager(what, bound)) => sb ++= s"| `$name` | eager | $what | $bound |\n"
          case (name, QuerySpec.Memoized(what, bound)) => sb ++= s"| `$name` | memoized | $what | $bound |\n"
          case (_, QuerySpec.Lazy) => ()
        }
        for ((name, note) <- Headliners)
          sb ++= s"\n## $name\n\n$note\n\n```\n${plan(name)}```\n"
        Files.createDirectories(Paths.get("docs"))
        Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
        println(s"wrote docs/PLANS.md (${Headliners.size} plans)")
    }
    runner.spark.stop()
  }
}
