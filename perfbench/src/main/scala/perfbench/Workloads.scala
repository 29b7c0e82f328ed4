package perfbench

import graft.queries._

/** The fixed operation lists. README.md records why each workload exists
  * and how the serial lists were chosen: every run sets up a fresh JVM,
  * warms up with one untimed pass and times two more, and the whole
  * benchmark (48 runs and two builds) has to fit in under an hour, so the
  * serial workload runs subsets of the full relational and curation lists.
  * `profile.py` measures each full list next to its subset.
  */
object Workloads {

  /** Short relational plans from Scans, Projections, Joins, Aggregates,
    * Windows, SetOps, Scalars and Reshape: Catalyst- and driver-heavy, no
    * VersionedTarget calls. Chosen so that its jobs, stages and actions
    * per query and per second, median query time, driver-gap share and
    * executor share match [[relationalFull]]'s (README.md).
    */
  val relational: Seq[String] = Seq(
    "q01_parquet_scan", "q04_parquet_sink", "q07_filter_predicates",
    "q09_distinct", "q10_inner_join", "q12_outer_join",
    "q20_groupby_multi_agg", "q21_global_agg", "q22_count_distinct",
    "q28_ranking_window", "q36_union", "q39_string_funcs", "q76_pivot")

  /** Dedup and text kernels from `functions/` and `ops/`: MinHashSig
    * (q59), Tokens (q62) and WinnowedFps (q172) in single-action
    * queries, and SimHashFp in the multi-action dedup pipeline q192.
    * Chosen, like [[relational]], to match [[curationFull]]'s profile.
    */
  val curation: Seq[String] = Seq(
    "q59_minhash_lsh", "q62_token_freq", "q172_winnowed_substring_dedup",
    "q192_simhash_dedup_apply")

  /** Store-phase cycles per pass (see [[Store]]). */
  val storeCycles = 4

  /** Queries the task-storm's relational model tasks rotate over. */
  val taskQueries: Seq[String] = Seq(
    "q20_groupby_multi_agg", "q25_collect_list", "q84_salted_skew_join",
    "q111_cube", "q112_gap_fill", "q114_snapshot_diff", "q115_funnel",
    "q128_batch_sessionize")

  /** Sketch queries: their outputs are approximate. */
  val sketches: Set[String] = Set("q23_approx_distinct", "q123_approx_bands", "q135_sketch_rollup")

  /** Every query of the relational modules but the sketches: the list
    * [[relational]] is drawn from. Profiled, not a workload.
    */
  def relationalFull: Seq[String] =
    Seq(Scans.all, Projections.all, Joins.all, Aggregates.all, Windows.all,
      SortsLimits.all, SetOps.all, Scalars.all, Reshape.all, AnalyticsOps.all,
      BehaviorOps.all, ExportOps.all).flatMap(_.keys).filterNot(sketches).sorted

  /** The dedup and text queries [[curation]] is drawn from. Profiled, not
    * a workload.
    */
  val curationFull: Seq[String] = Seq(
    "q59_minhash_lsh", "q60_jaccard_pairs", "q62_token_freq", "q64_langid",
    "q65_quality_score", "q69_embed_neardup", "q81_simhash_neardup",
    "q86_ngram_jaccard", "q87_neardup_keepers", "q94_neardup_clusters",
    "q95_tfidf_terms", "q100_boiler_lines", "q125_embed_clusters",
    "q127_dedup_apply", "q129_pagerank", "q166_image_dedup_apply",
    "q169_semantic_dedup", "q172_winnowed_substring_dedup",
    "q191_winnowed_dedup_apply", "q192_simhash_dedup_apply")

  /** The fixture tables each workload's queries name; set-up ingests
    * these (the `compactScans` rewrite) before the timed window.
    */
  val serialTables: Seq[String] = Seq("lineitem", "orders", "customer", "supplier", "part", "documents")
  val taskTables: Seq[String] = Seq("lineitem", "orders", "events")

  /** Every query whose output the benchmark checks. */
  def checked: Seq[String] =
    (relational ++ curation ++ taskQueries).distinct.sorted
}
