package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-smoke harness for the iterative graph/dedup family: replicates
  * the sf0.1 tables K× with key offsets (an sf~1-scale corpus when
  * K=10), runs the iterative queries against both scales, and prints
  * one JSON line of seconds per query — the measurement behind the
  * linear-scaling claims PLANS.md records (plan shape says the per-round
  * cost is one join + keyed aggs; this checks the constant).
  *
  * Replication details:
  *  - graph keys (orderkey / custkey / suppkey / doc_id) are offset per
  *    replica, so the customer–supplier graph grows 10× in nodes and
  *    edges with the same degree distribution — components never bridge
  *    replicas;
  *  - document TEXT is passed through a per-replica letter rotation
  *    (a bijection, applied to the 9 most frequent letters), which
  *    preserves every within-replica near-dup relation exactly while
  *    making cross-replica shingle overlap negligible — so the dedup
  *    graph also scales ~10×, not quadratically (identical copies would
  *    form 10-deep cross-replica clusters: 100× the edges).
  *
  * Usage: runMain graft.ScaleSmoke [srcSfDir] [K] [workDir] [queryRegex]
  */
object ScaleSmoke {

  // two independent 9-letter rotation groups: the composed bijection is
  // unique per replica for k <= 81 (a single group collides at i = 9,
  // which would make replica 9's text byte-identical to replica 0's and
  // bridge the dedup graph across replicas)
  private val Letters = "etaoinshr"
  private val Letters2 = "dlucmfwgy"

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val work = if (args.length > 2) args(2) else "/tmp/graft-scale"
    val pat = if (args.length > 3) args(3) else ".*"
    val spark = Smoke().spark

    val dir = s"$work/k$k"
    buildScaled(spark, src, k, dir)

    // iterative graph family + the dedup/ANN family (round-6 verdict ask
    // #5): banded/blocked candidate generation should scale with the
    // collision rate, ~linearly — a blowup here falsifies the banding
    // story before production data would.
    val queries = Seq(
      "q89_pagerank", "q133_pagerank_deep", "q140_label_propagation",
      "q157_lpa_semi_sync", "q145_bfs_distance", "q134_cc_distributed",
      "q18_dedup_jaccard", "q19_dedup_minhash_lsh", "q121_sparse_cosine",
      "q53_ann_recall", "q137_ivfpq",
      // round-9 additions with linear expectation: winnowing + novelty
      // (gram streams, rotation keeps cross-replica collisions rare),
      // link prediction (replica-disjoint graphs), CEP + clamped ledger
      // (user-keyed windows, replica-disjoint users). q192/q201 are
      // deliberately EXCLUDED: replicas densify a fixed-area plane, so
      // fixed-radius neighbor volume grows ~k² by physics, not by plan
      // defect — their scale story is the plan shape + spec equality.
      "q186_winnow_fingerprints", "q190_ngram_novelty", "q191_adamic_adar",
      "q195_event_pattern", "q200_clamped_balance",
      // round-9 batch 5: peels are frontier-proportional per round
      // (q202 nodes, q208 edges — replica-disjoint graphs), PPJoin
      // candidates are bounded by prefix posting lists (the rotation
      // keeps them replica-local), skyline prunes through fixed-width
      // buckets, PMI is two scan-shaped aggs
      "q202_kcore_peel", "q208_ktruss_peel", "q204_ppjoin_exact",
      "q205_skyline", "q207_pmi_collocations",
      // round-9 batch 6: q212's CDF cells and q214's month table ride
      // the range-partitioned prefix device (P-row driver state at any
      // size); q211/q213/q217 are cell-bounded contingency/lattice
      // aggs; q215's FW-BW peel is frontier-proportional per round
      // (replicas share the calendar, so day-hub edges blend across
      // replicas — a k×-denser day, the honest growth mode for this
      // graph); q216 is a pure scan-shaped kernel pass. q218 is
      // EXCLUDED: its staged batches are fixed-size by construction
      // (6 anchors × 10), so it is scale-invariant, not scale-tested.
      "q211_chi2_independence", "q212_ks_test", "q213_info_gain",
      "q214_cusum_changepoint", "q215_scc", "q216_resize_thumb",
      "q217_grouping_sets",
      // round-9 batch 7: q219's distortion pairs ride a FIXED ≤128-vector
      // sample (O(1) truth at any scale — the q53 rule); q220 is one q18
      // pass + one q19 pass (collision-rate-bounded); q221's fact shuffle
      // is the only corpus-sized stage (grain merges move tiles×K longs);
      // q222/q223 are O(n·k)/O(n) scan-shaped; q224's per-round join is
      // neighborhood-sized (seeds grow with replicas, support is
      // replica-local); q225 is a 20-row stratum agg; q226 is two
      // rankings + a rank-keyed join. q227/q228 are EXCLUDED like q218:
      // staged-micro-batch harnesses whose fixed per-batch overhead
      // dominates at smoke scale (their state is kilobytes / calendar-
      // bounded by construction).
      "q219_jl_projection", "q220_lsh_quality", "q221_sketch_rollup",
      "q222_silhouette", "q223_mmd_drift", "q224_personalized_pagerank",
      "q225_neyman_allocation", "q226_quantile_normalize",
      // q229 rides the q19 band-bounded pair stream + a sources²-bounded
      // matrix agg; q230 is one scan-shaped O(n·17) argmax projection
      "q229_source_contamination", "q230_rendezvous_sharding",
      // round-9 batch 8 (mining): q232's graph aggregates to the FIXED
      // vocabulary (the token stream scans, the PageRank is V-sized);
      // q233 is one monthly rollup + scan-local folds; q234 is a pure
      // per-row byte kernel; q235's per-step join is frontier-sized
      // (walks scale with nodes, adjacency with edges); q236's weight
      // line is vocabulary-sized and the draw join is bucket-banded.
      // q231 itself is EXCLUDED (its exact arm is the test-scale
      // verification harness, quadratic by design) — the smoke times
      // the sketch-only production arm as q231_hyperball_sketch below.
      "q232_textrank", "q233_holt_forecast", "q234_wav_features",
      "q235_random_walks", "q236_negative_sampling",
      // round-9 batch 9: q237's pair stream is basket-bounded (baskets
      // replicate, never items²); q239 shuffles BIN tables (fixed
      // width) + per-feature bounded windows; q240 reduces to 9 moments
      // per nation; q241's windows are per-doc and its aggregates
      // vocabulary-sized; q242's gram tables are doc-length-bounded and
      // every join is keyed on doc id (replica-disjoint pairs).
      "q237_item_cf", "q239_decision_stump", "q240_quad_trend",
      "q241_rake_keyphrases", "q242_rouge_pairs",
      // round-9 batch 10: q243 is a scan-shaped per-row loop + 40-row
      // agg; q244's dictionary is the distinct-value set through the
      // P-row rank device; q245's posting arrays are df-bounded per
      // term (the 31-term synthetic vocab makes arrays grow k× — the
      // documented block-sharding case, timed honestly); q246 rides
      // the fixed query sample (O(cap·n) per truncation arm).
      "q243_hilbert_skipping", "q244_order_dict", "q245_posting_lists",
      "q246_matryoshka_recall",
      // round-9 batch 11: q249 is a scan-local encode over the distinct
      // vocabulary; q250's candidates are phonetic-block-bounded (the
      // LSH-banding cost shape). q247/q238 are staged-micro-batch
      // streaming harnesses, excluded like q218/q227/q228.
      "q249_soundex", "q250_phonetic_er",
      // round-9 batch 12: q253's hops are seed-capped inequality joins
      // (O(seeds · contacts-per-entity)); q254/q255 are one-shuffle
      // fact aggregations over bounded dimensions.
      "q253_temporal_reach", "q254_cluster_sample", "q255_topn_other",
      // round-9 batch 13: q256 is a build filter + as-of-tx filters;
      // q257's candidates are basket-bounded (brands³ per order) and
      // the prune semi-joins hit the bounded frequent-pair table.
      "q256_bitemporal", "q257_apriori_triples",
      // round-9 batch 14: q258 is five windowed sums in per-user
      // frames; q259 is one blocked census groupBy.
      "q258_rolling_ols", "q259_continuity_audit",
      // round-9 batch 15: q260 decorrelates to a per-nation ranked
      // join; q261's matrix is docs × query-terms (scan-shaped);
      // q262 is five integer sums over the edge list; q263's grid is
      // calendar × fixed bins.
      "q260_lateral_topk", "q261_qlm_dirichlet", "q262_assortativity",
      "q263_hist_quantile_tiles",
      // round-9 batch 16: q264's replicate table is R=32 at any scale;
      // q265 ranks within nations; q266's PAVA runs on the bounded bin
      // table; q267 is one scan + one user-keyed groupBy.
      "q264_poisson_bootstrap", "q265_gini_concentration",
      "q266_isotonic_calibration", "q267_als_half_step",
      // round-9 batch 17: q268/q269 are one fact scan into bounded cell
      // tables; q270 runs on the monthly grain; q271 is scan-local
      // array lambdas + a per-source rollup.
      "q268_cuped", "q269_diff_in_diff", "q270_seasonal_decomp",
      "q271_forcast_readability",
      // round-9 batch 18: q272's quantile runs on segment×bin tiles;
      // q273 rides the P-row global-prefix device over the distinct-
      // value grain; q274 is monthly-grain; q275 is one entity-keyed
      // aggregation over a 4-per-entity record universe.
      "q272_conformal_interval", "q273_mann_whitney",
      "q274_xmr_control_chart", "q275_golden_record",
      // round-9 batch 19: q276 is three range-partitioned rank passes;
      // q277/q278 run on the monthly grain; q279 is one fact scan into
      // a (brand, year) pivot.
      "q276_rfm_segmentation", "q277_acf", "q278_runs_test",
      "q279_price_volume_bridge",
      // round-9 batch 20: q280 is scan + 1-row attach + nation rollup;
      // q281 rides the prefix device on two distinct-value grains;
      // q282 is one rank pass into a 10-row walk; q283 is a
      // vocabulary-bounded rollup.
      "q280_theil_decomposition", "q281_spearman_rho",
      "q282_cumulative_gains", "q283_term_burstiness",
      // round-9 batch 21: q284/q285/q286 are single-pass conditional
      // aggregates / rule-bounded checks / brand-bounded intervals;
      // q287 is one prefix-device pass over the part grain.
      "q284_filter_clause", "q285_expectation_suite",
      "q286_wilson_interval", "q287_abc_classification",
      // round-9 batch 22: format round-trips — write + schema-declared
      // read-back + checksum, all scan-shaped.
      "q288_csv_roundtrip", "q289_jsonl_roundtrip",
      // round-10: q290's anchor grams are df-capped (the q18 rule) and
      // the letter rotation keeps anchors replica-local, so matches —
      // and the pair-local diagonal windows — grow ~k, not k².
      // q291's band buckets are 16-bit exact keys under the bucket cap
      // (collision-rate-bounded, the q19 shape); q292's pair work is
      // cell-local against the IvfK-bounded frozen codebook; q293 is
      // two scan-shaped gram passes + a 256-row broadcast + the
      // bounded-heap budget cut.
      "q290_exact_substring", "q291_image_dhash",
      "q293_incremental_dsir",
      // q294 = q291's shape on the audio lane (kernel scan + capped
      // 16-bit band buckets); q295 is a pure scan-shaped kernel pass
      // (the q216 shape); q296 is the q288/q289 round-trip shape over
      // the typed ORC sink
      "q294_audio_fingerprint", "q295_mp4_header", "q296_orc_roundtrip",
      // q297 rides the range-partitioned prefix device (P-row offsets);
      // q298/q299 are one bounded-domain groupBy each; q300 is one scan
      // + one content-hash shuffle
      "q297_sequence_packing", "q298_k_anonymity", "q299_dp_release",
      "q300_curation_funnel",
      // q301: band-bounded pairs + CC over the quotient graph (affected
      // labels + delta docs — replica-disjoint under the rotation)
      "q301_incremental_cc",
      // round-11: q302 is delta-derive + anti-join + degree merge (all
      // keyed); q303 signs only the delta and probes the band artifact;
      // q304's removal set is one row per removed token (df-capped span
      // mass), every join keyed on (doc_id, pos)
      // q292: both equivalence arms inside the SemDedupGaugeCap
      // md5-ranked slice since round 11 (the q220 treatment) — the
      // gauge cost is corpus-size-free; the production O(delta) arm is
      // DeltaSelectSmoke's measurement
      "q292_incremental_semdedup",
      "q302_graph_append", "q303_lsh_index_probe", "q304_exactsubstr_trim",
      // q305: one kernel scan + a per-(frame,band) collision join —
      // the rotation keeps cross-replica frame hashes distinct
      "q305_video_near_dup",
      // q306: n-gram-count joins + the range-partitioned global rank
      // (never a single-partition window) — both linear-shaped
      "q306_ccnet_perplexity",
      // q307/q310 are the q306 shape (n-gram-count joins + GlobalRank
      // cut) with two models / KN fan-out tables respectively; q308's
      // candidate volume is exact-segment collision-bound (PassJoin —
      // measured 22k candidates for 55k strings at K=10)
      "q307_moore_lewis", "q308_edjoin", "q310_kneser_ney",
      // q311: log(maxlen) keyed rounds, each one equi-join + one
      // range-partitioned densify over n suffix rows — round count is
      // corpus-INDEPENDENT, so the ratio measures the per-round joins;
      // q312: the broadcast test set scales with the corpus (mod rule),
      // so the distance matrix grows 100× at 10× — the smoke documents
      // that the EXACT arm is quadratic in the sample rules by design
      "q311_suffix_ranks", "q312_knn_shapley",
      // q313: the corpus is touched once (length-bucket groupBy); the
      // Sinkhorn rounds run on bins²-sized frames, corpus-independent —
      // the ratio measures the one scan (row added per r11 verdict ask)
      "q313_sinkhorn_ot",
      // round-12: q314 composes base+delta gram chains (both df-capped,
      // the q290 shape); q315 is an artifact read + two (doc,pos)-keyed
      // window joins + survivor-only text extension; q316's corpus work
      // is one word-count scan (everything after runs on the
      // frequency-cut type table); q317 is two collision-bounded band
      // joins + a pair-keyed full-outer
      "q314_trim_append", "q315_suffix_lcp", "q316_unigram_lm",
      "q317_cross_modal_dup",
      // q318's closure is vocabulary-bounded (one corpus word-count
      // scan); q319 is one position explode + per-doc run windows
      "q318_unigram_encode", "q319_span_corruption",
      // q320: one q307-shaped scoring pass + DrmRounds filtered
      // groupBys over the persisted doc-stats frame (solver driver-side
      // on |domains| rows); q321: count-table derivation + one
      // aggregation per EM iterate over the persisted held-out events
      "q320_doremi", "q321_jelinek_mercer",
      // round-13: q322 is window prefix-sums (one range shuffle) +
      // collision-bounded comparison joins; q323 is the q315 pair
      // machinery + per-doc interval unions (doc-partitioned windows)
      // + a pool-sized anchor arm from the committed grams artifact;
      // q324's corpus work is q318's one word-count scan (the
      // waterfilling is |langs|-row)
      "q322_suffix_merge", "q323_lcp_trim", "q324_tokenizer_unimax",
      // q325 rides q323's cover machinery + one char explode per pool doc
      "q325_lcp_rewrite",
      // round-14: q323/q325 now read the committed cover artifact, so
      // their ratios measure artifact read + anchor arm / char explode;
      // q326 is three artifact/broadcast-shaped sources + a touched-doc
      // char explode (untouched docs short-circuit to md5(text));
      // q327's first run pays the staged build+2-merge loop (the
      // maintenance cost itself — recorded as the honest number),
      // repeat runs read the committed result
      "q326_removal_scrub", "q327_stream_suffix_maintain",
      // q328: one groupBy over the committed ranks + a per-doc kernel
      // whose state is O(|doc|) positions + text — scan-shaped
      "q328_substring_complexity")
      .filter(_.matches(pat))
    // the ANN/graph/LSH queries read build-once indexes: time each build
    // as its OWN metric so query times measure search/probe, exactly as
    // production accounting would
    def timed(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      f
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale-smoke] $name: $sec%.2f s (k=$k)")
      name -> sec
    }
    val builds = Seq(
      timed("ann_index_build") { operators.AnnIndex.ensure(spark, dir); () },
      timed("graph_index_build") { operators.GraphIndex.ensure(spark, dir); () },
      timed("lsh_index_build") { operators.LshIndex.ensure(spark, dir); () },
      timed("trim_index_build") { operators.TrimIndex.ensure(spark, dir); () },
      timed("suffix_index_build") { operators.SuffixIndex.ensure(spark, dir); () },
      timed("sem_codebook_build") { operators.SemCodebook.ensure(spark, dir); () },
      timed("ulm_vocab_build") { operators.UlmIndex.ensure(spark, dir); () },
      timed("ml_scores_build") { operators.MlIndex.ensure(spark, dir); () })
    // q267's long-pinned sufficient statistics are exact only while a
    // user's rating count keeps the scaled term sums under 2^53 (the
    // DECIMAL-parity bound is n_u ≈ 176, documented at the q267 site).
    // Measured tail (driver testdata, round 13): max lineitems/customer
    // = 84 at sf0.001, 93 at sf0.01, 105 at sf0.1 — headroom 1.7× at
    // the largest SF this smoke targets, but the tail GROWS with SF, so
    // a breach at sf1+ is plausible (ADVICE r12): on breach, SKIP the
    // q267 metric with a loud report instead of aborting the whole
    // smoke — the bound protects one query's exactness claim, not the
    // run.
    val q267Ok = locally {
      import org.apache.spark.sql.functions._
      val maxNu = Tables.load(spark, dir, "lineitem")
        .join(Tables.load(spark, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head().getLong(0)
      if (maxNu > 176L)
        System.err.println(
          s"[scale-smoke] SKIPPING q267: max ratings/user $maxNu > 176 breaks " +
            "the long-sum exactness bound - move the five sufficient " +
            "statistics back to DECIMAL(28,12) sums before trusting q267 here")
      else
        System.err.println(
          s"[scale-smoke] q267 exactness bound: max ratings/user = $maxNu (<= 176)")
      maxNu <= 176L
    }
    val extras: Seq[(String, (SparkSession, String) => DataFrame)] =
      Seq("q231_hyperball_sketch" -> operators.Mining.hyperballSketchOnly _)
        .filter(_._1.matches(pat))
    val times = (queries.filter(n => q267Ok || !n.startsWith("q267")).map(n =>
        n -> Registry.all.find(_.name == n).get.fn) ++ extras).map {
      case (name, fn) =>
        spark.catalog.clearCache()
        System.gc()
        timed(name)(fn(spark, dir).write.format("noop").mode("overwrite").save())
    } ++ builds
    val json = times.map { case (n, s) => s""""$n":${math.round(s * 100) / 100.0}""" }
      .mkString("{", ",", "}")
    println(s"""{"k":$k,"src":"$src","queries":$json}""")
    spark.stop()
  }

  /** K offset replicas of the four tables the iterative family reads. */
  def buildScaled(spark: SparkSession, src: String, k: Int, out: String): Unit = {
    import spark.implicits._
    def maxOf(t: String, c: String): Long =
      Tables.load(spark, src, t).agg(max(col(c))).first().getLong(0) + 1L

    val (mo, mc, ms, md) = (maxOf("orders", "o_orderkey"),
      maxOf("customer", "c_custkey"), maxOf("supplier", "s_suppkey"),
      maxOf("documents", "doc_id"))

    def replicate(t: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, t)
      (0 until k).map(i => f(base, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    // full orders schema: the stats-audit family (q211-q215, q217)
    // reads status/priority/price/date; value columns pass through, so
    // per-replica distributions are identical and drift/association
    // statistics stay comparable across scales
    replicate("orders", (df, i) => df.select(
      ($"o_orderkey" + i * mo).as("o_orderkey"),
      ($"o_custkey" + i * mc).as("o_custkey"),
      $"o_orderstatus", $"o_totalprice", $"o_orderdate", $"o_orderpriority"))
    // full lineitem schema: q237 pairs on l_partkey (offset with part),
    // q239 bins quantity/price/discount against the returnflag target —
    // value columns pass through so per-replica distributions and the
    // stump's split geometry stay scale-comparable
    val mp = maxOf("part", "p_partkey")
    replicate("lineitem", (df, i) => df.select(
      ($"l_orderkey" + i * mo).as("l_orderkey"),
      ($"l_partkey" + i * mp).as("l_partkey"),
      ($"l_suppkey" + i * ms).as("l_suppkey"),
      $"l_linenumber", $"l_quantity", $"l_extendedprice", $"l_discount",
      $"l_tax", $"l_returnflag", $"l_linestatus", $"l_shipdate"))
    replicate("part", (df, i) => df.select(
      ($"p_partkey" + i * mp).as("p_partkey"),
      $"p_name", $"p_brand", $"p_type", $"p_size", $"p_retailprice"))
    replicate("supplier", (df, i) => df.select(
      ($"s_suppkey" + i * ms).as("s_suppkey"),
      $"s_name", $"s_nationkey", $"s_acctbal"))
    // fixed dims shared by every replica (a k×-bigger world has the
    // same 25 nations): straight copies
    Seq("nation", "region").foreach { d =>
      Tables.load(spark, src, d)
        .write.mode("overwrite").parquet(s"$out/$d.parquet")
    }
    // c_mktsegment passes through: q233's per-segment series grow k× in
    // per-month mass with unchanged month count — the forecaster's
    // honest growth mode (more revenue, same calendar)
    // c_name/c_acctbal pass through (q260's lateral top-3 reads them);
    // cross-replica (acctbal, name) ties are possible but the smoke
    // only times, and the per-nation heap size is unchanged
    replicate("customer", (df, i) => df.select(
      ($"c_custkey" + i * mc).as("c_custkey"), $"c_nationkey",
      $"c_mktsegment", $"c_name", $"c_acctbal"))
    def rot(alpha: String, r: Int): String =
      alpha.drop(r % alpha.length) ++ alpha.take(r % alpha.length)
    replicate("documents", (df, i) => df.select(
      ($"doc_id" + i * md).as("doc_id"),
      translate(
        translate($"text", Letters, rot(Letters, i % Letters.length)),
        Letters2, rot(Letters2, (i / Letters.length) % Letters2.length))
        .as("text"),
      // letter rotation is length-preserving, so n_chars passes through
      // (q205 skyline reads it); source/lang pass through so per-source
      // strata (q225/q226/q229) grow k× in size with identical labels
      $"n_chars", $"source", $"lang"))
    // embeddings: per-replica DIMENSION ROTATION — a permutation applied
    // to both sides of any within-replica pair preserves every dot
    // product (and norm) EXACTLY, so the near-dup structure replicates
    // k×; cross-replica pairs see misaligned dims and decorrelate. The
    // vec_id stride is max+1 (2000 at sf0.1, a multiple of 100), so the
    // `vec_id % 100 = 0` query subset scales uniformly with the corpus.
    // rotation alone aliases at i = 64 (rot_64 = rot_0); composing a
    // REVERSAL (also a dot-preserving permutation) for the second block
    // of 64 keeps every replica's permutation distinct through k = 128
    // events: offset ids AND users per replica — users stay disjoint, so
    // sessions/ledgers replicate k× with identical per-user shapes (ts
    // passes through; the time range is shared, which is exactly how a
    // k×-bigger day of traffic looks)
    val mev = maxOf("events", "event_id")
    val mu = maxOf("events", "user_id")
    replicate("events", (df, i) => df.select(
      ($"event_id" + i * mev).as("event_id"), $"ts",
      ($"user_id" + i * mu).as("user_id"), $"event_type", $"value"))
    val me = maxOf("embeddings", "vec_id")
    replicate("embeddings", (df, i) => {
      require(i < 128, s"replica $i: only 128 distinct dim permutations defined")
      val r = i % 64
      val rotated =
        if (r == 0) $"embedding"
        else concat(slice($"embedding", r + 1, 64 - r), slice($"embedding", 1, r))
      val permuted = if (i < 64) rotated else reverse(rotated)
      df.select(($"vec_id" + i * me).as("vec_id"),
        permuted.as("embedding"), $"label")
    })
  }
}
