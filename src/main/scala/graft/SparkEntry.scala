package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, Layout, RangeJoin, RefQueries, Similarity, TextQueries}
import graft.multimodal.Multimodal

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is a batch-checkable operator from SURVEY.md §2
  * (reference parity) or the beyond-reference training-data surface
  * (dedup / similarity / text analysis / multimodal). Queries with a DuckDB
  * oracle in `oracleSql` mirror the oracle exactly: same column names, same
  * deterministic arithmetic (decimal-exact sums, integer time math, rounded
  * similarity scores), same ORDER BY.
  */
object SparkEntry {

  /** Flagship: the full star-schema enrichment (reference OrderWideApp's
    * 6-dim lookup join re-expressed as broadcast joins). */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.starWide(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference parity (SURVEY.md §2) ----
    "q01_pricing_summary" -> (RefQueries.pricingSummary _),
    "q02_window_stats"    -> (RefQueries.windowStats _),
    "q03_province_stats"  -> (RefQueries.provinceStats _),
    "q04_order_line_band" -> (RefQueries.orderLineBand _),
    "q05_star_wide"       -> (RefQueries.starWide _),
    "q06_uv_per_day"      -> (RefQueries.uvPerDay _),
    "q07_jump_detect"     -> (RefQueries.jumpDetect _),
    "q08_session_entries" -> (RefQueries.sessionEntries _),
    "q09_gmv"             -> (RefQueries.gmvPerDay _),
    "q10_keyword_count"   -> (RefQueries.keywordCount _),
    "q11_metric_unpivot"  -> (RefQueries.metricUnpivot _),
    "q12_new_visitor"     -> (RefQueries.newVisitorStats _),
    "q13_json_extract"    -> (RefQueries.jsonExtract _),
    "q14_top_parts"       -> (RefQueries.topPartsPerBrand _),
    // ---- training-data pipeline (beyond-reference) ----
    "q15_dedup_exact"     -> (Dedup.exactDupGroups _),
    "q16_ngram_jaccard"   -> ((s, d) => Dedup.ngramJaccardPairs(s, d)),
    "q17_minhash_pairs"   -> ((s, d) => Dedup.minhashLshPairs(s, d)),
    "q18_simhash"         -> ((s, d) => Dedup.simhashFingerprints(s, d)),
    "q19_simhash_pairs"   -> ((s, d) => Dedup.simhashPairs(s, d)),
    "q20_ann_topk"        -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    "q21_ann_lsh"         -> ((s, d) => Similarity.lshTopK(s, d)),
    "q22_langid"          -> (TextQueries.langId _),
    "q23_quality"         -> (TextQueries.qualityScore _),
    "q24_token_count"     -> (TextQueries.tokenCount _),
    "q25_fingerprint"     -> (TextQueries.fingerprint _),
    "q26_media_stats"     -> (Multimodal.mediaStats _),
    "q27_embed_dups"      -> ((s, d) => Dedup.embeddingDupPairsLsh(s, d)),
    "q28_latest_event"    -> (RefQueries.latestEventPerUser _),
    "q29_keyword_product" -> (RefQueries.keywordMetricCross _),
    "q30_sessionize"      -> ((s, d) => RefQueries.sessionize(s, d)),
    "q31_ann_ivf"         -> ((s, d) => Similarity.ivfTopK(s, d)),
    "q32_sliding_window"  -> (RefQueries.slidingWindowStats _),
    "q33_rollup"          -> (RefQueries.regionRollup _),
    "q34_percentiles"     -> (RefQueries.pricePercentiles _),
    "q35_semi_anti"       -> (RefQueries.customerOrderExistence _),
    "q36_running_total"   -> (RefQueries.runningRevenue _),
    "q37_pivot"           -> (RefQueries.eventPivot _),
    "q38_avg_metrics"     -> (RefQueries.avgMetrics _),
    "q39_product_stats_full" -> (RefQueries.productStatsFull _),
    "q40_order_wide_enriched" -> (RefQueries.orderWideEnriched _),
    "q41_visitor_stats_full" -> (RefQueries.visitorStatsFull _),
    "q42_ann_lsh_banded"  -> ((s, d) => Similarity.lshTopKMulti(s, d)),
    "q43_winnow"          -> ((s, d) => Dedup.winnowFingerprints(s, d)),
    "q44_pii_scan"        -> (TextQueries.piiScan _),
    "q45_repetition"      -> (TextQueries.repetition _),
    "q46_bm25_terms"      -> ((s, d) => TextQueries.bm25TopTerms(s, d)),
    "q47_split_assign"    -> (Dedup.splitAssign _),
    "q48_dup_clusters"    -> ((s, d) => Dedup.sharedClusters(s, d)),
    "q49_dedup_keep"      -> ((s, d) => Dedup.dedupKeepSet(s, d)),
    "q50_salted_agg"      -> ((s, d) => graft.operators.Skew.saltedEventStats(s, d)),
    "q51_uv_approx"       -> ((s, d) => RefQueries.uvPerDayApprox(s, d)),
    "q52_province_approx" -> ((s, d) => RefQueries.provinceStatsApprox(s, d)),
    "q53_pack_assign"     -> ((s, d) => graft.operators.Corpus.packAssign(s, d)),
    "q54_chunk_spans"     -> ((s, d) => graft.operators.Corpus.chunkSpans(s, d)),
    // the composed pipeline as its own gated query: dedup (q48/q49's shared
    // clustering) -> pack the CLEANED corpus — the end-to-end
    // trainingCorpusApp layout carries its own hash row instead of
    // inheriting trust from its parts (VERDICT r4 ask #4)
    "q55_corpus_packed"   -> ((s, d) => graft.operators.Corpus.trainingCorpusApp(s, d)._2),
    "q56_decontaminate"   -> ((s, d) => graft.operators.Curation.decontaminate(s, d)),
    "q57_stratified"      -> ((s, d) => graft.operators.Curation.stratifiedSample(s, d)),
    "q58_domain_mix"      -> ((s, d) => graft.operators.Curation.domainMix(s, d)),
    "q59_funnel"          -> ((s, d) => graft.operators.Curation.curationFunnel(s, d)),
    "q60_len_quantiles"   -> ((s, d) => graft.operators.Curation.lenQuantiles(s, d)),
    "q61_asof_click"      -> ((s, d) => graft.operators.AsOf.asOfClick(s, d)),
    "q62_curated_packed"  -> ((s, d) => graft.operators.Corpus.curatedCorpusApp(s, d)),
    "q63_salted_join"     -> ((s, d) => graft.operators.Skew.saltedPartRevenue(s, d)),
    "q64_bm25_retrieval"  -> ((s, d) => TextQueries.bm25Retrieval(s, d)),
    "q65_ann_quantized"   -> ((s, d) => Similarity.quantizedTopK(s, d)),
    "q66_bigram_lift"     -> ((s, d) => TextQueries.bigramLift(s, d)),
    "q67_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    "q68_retention"       -> (RefQueries.retentionCohorts _),
    "q69_premium_parts"   -> (RefQueries.premiumParts _),
    "q70_range_join"      -> ((s, d) => RangeJoin.windowEventStats(s, d)),
    "q71_scd2_history"    -> (graft.operators.Scd.scd2History _),
    "q72_pit_enrich"      -> (graft.operators.Scd.pointInTimeEnrich _),
    "q73_growth_quad"     -> (RefQueries.growthAccounting _),
    "q74_session_stats"   -> ((s, d) => RefQueries.sessionVisitorStats(s, d)),
    "q75_funnel_paths"    -> ((s, d) => RefQueries.funnelPaths(s, d)),
    "q76_profile"         -> (RefQueries.profileLineitem _),
    "q77_integrity"       -> (RefQueries.integrityAudit _),
    "q78_cohort_conv"     -> (RefQueries.cohortConversion _),
    "q79_funnel_durs"     -> ((s, d) => RefQueries.funnelDurations(s, d)),
    "q80_scd2_cdc"        -> (graft.operators.Scd.scd2CdcHistory _),
    "q81_pit_enrich_cdc"  -> (graft.operators.Scd.pointInTimeEnrichCdc _),
    "q82_status_dwell"    -> (graft.operators.Scd.statusDwell _),
    "q83_rolling_daily"   -> (RefQueries.rollingDaily _),
    "q84_pivot_daily"     -> (RefQueries.pivotDaily _),
    "q85_rollup_pricing"  -> (RefQueries.rollupPricing _),
    "q86_sliding_stats"   -> (RefQueries.slidingStats _),
    "q87_transitions"     -> (RefQueries.transitionMatrix _),
    "q88_gap_histogram"   -> (RefQueries.gapHistogram _),
    "q89_lang_deciles"    -> (RefQueries.langDeciles _),
    "q90_corpus_diff"     -> ((s, d) => graft.operators.Curation.corpusDiff(s, d)),
    "q91_boilerplate"     -> ((s, d) => graft.operators.TextQueries.boilerplateGrams(s, d)),
    "q92_cohort_durs"     -> ((s, d) => RefQueries.cohortDurations(s, d)),
    "q93_attribution"     -> (RefQueries.attributionReport _),
    "q94_zorder_layout"   -> (graft.functions.ZOrder.layoutAudit _),
    "q95_cube_orders"     -> (RefQueries.cubeOrders _),
    "q96_gap_fill"        -> (graft.operators.Series.gapFill _),
    "q97_interval_merge"  -> (graft.operators.Series.intervalMerge _),
    "q98_basket_pairs"    -> (graft.operators.Graph.basketPairs _),
    "q99_triangles"       -> (graft.operators.Graph.triangleCounts _),
    "q100_overlap"        -> ((s, d) => graft.operators.Overlap.audienceOverlap(s, d)),
    "q101_fuzzy_dups"     -> ((s, d) => Dedup.fuzzyHeadPairs(s, d)),
    "q102_mom_yoy"        -> (graft.operators.Series.monthlyDeltas _),
    "q103_weighted_sample" -> (graft.operators.Stats.weightedSample _),
    "q104_outlier_audit"  -> (graft.operators.Stats.outlierAudit _),
    "q105_revenue_share"  -> (graft.operators.Stats.revenueShare _),
    "q106_fanout_audit"   -> (graft.operators.Stats.fanoutAudit _),
    "q107_top_concat"     -> (graft.operators.Stats.topPartsConcat _),
    "q108_cum_reach"      -> (graft.operators.Stats.cumulativeReach _),
    "q109_set_ops"        -> (graft.operators.Stats.yearCohortSetOps _),
    "q110_benford"        -> (graft.operators.Stats.benfordAudit _),
    "q111_vocab_growth"   -> (TextQueries.vocabGrowth _),
    "q112_pagerank"       -> ((s, d) => graft.operators.Graph.pagerank(s, d)),
    "q113_no_click"       -> ((s, d) => RefQueries.noClickPurchases(s, d)),
    "q114_anomaly_days"   -> (graft.operators.Series.anomalyDays _),
    "q115_phrase_search"  -> ((s, d) => TextQueries.phraseSearch(s, d)),
    "q116_heavy_hitters"  -> ((s, d) => graft.operators.Stats.heavyHitters(s, d)),
    "q117_components"     -> (graft.operators.Graph.connectedComponentsStar _),
    "q118_equidepth"      -> ((s, d) => graft.operators.Ranks.equiDepthHistogram(s, d)),
    "q119_skyline"        -> (graft.operators.Stats.skyline _),
    "q120_robust_outliers" -> (graft.operators.Ranks.robustOutliers _),
    "q121_session_paths"  -> ((s, d) => RefQueries.sessionPaths(s, d)),
    "q122_bfs_distance"   -> (graft.operators.Graph.bfsDistances _),
    "q123_spearman"       -> (graft.operators.Ranks.spearmanBrands _),
    "q124_change_points"  -> ((s, d) => graft.operators.Series.changePoints(s, d)),
    "q125_postings"       -> ((s, d) => TextQueries.postingsIndex(s, d)),
    "q126_weighted_median" -> (graft.operators.Ranks.weightedMedian _),
    "q127_concentration"  -> (graft.operators.Ranks.revenueConcentration _),
    "q128_ann_pq"         -> ((s, d) => Similarity.pqTopK(s, d)),
    "q129_ann_ivfpq"      -> ((s, d) => Similarity.ivfPqTopK(s, d)),
    "q130_ann_recall"     -> ((s, d) => Similarity.annRecall(s, d)),
    "q131_ppjoin"         -> ((s, d) => Dedup.ppjoinPairs(s, d)),
    "q132_hll_uv"         -> (graft.operators.Hll.distinctUsers _),
    "q133_bpe_merges"     -> ((s, d) => TextQueries.bpeMerges(s, d)),
    "q134_chi_square"     -> (graft.operators.Stats.chiSquare _),
    "q135_bloom_join"     -> (graft.operators.Bloom.bloomJoinAudit _),
    "q136_cms_freq"       -> ((s, d) => graft.operators.CountMin.tokenFreqAudit(s, d)),
    "q137_hilbert_runs"   -> (graft.functions.Hilbert.curveRunsAudit _),
    "q138_digest_diff"    -> ((s, d) => graft.operators.Curation.digestDiff(s, d)),
    "q139_ks_drift"       -> (graft.operators.Stats.ksDrift _),
    "q140_dedup_quality"  -> ((s, d) => Dedup.dedupQualityAudit(s, d)),
    "q141_boilerplate_strip" -> ((s, d) => TextQueries.boilerplateStrip(s, d)),
    "q142_freq_triples"   -> ((s, d) => graft.operators.Graph.frequentTriples(s, d)),
    "q143_join_size_est"  -> (graft.operators.CountMin.joinSizeEstimate _),
    "q144_multi_touch"    -> (RefQueries.multiTouchAttribution _),
    "q145_semdedup"       -> ((s, d) => Similarity.semDedup(s, d)),
    "q146_ann_rp"         -> ((s, d) => Similarity.rpRecall(s, d)),
    "q147_hybrid_rrf"     -> ((s, d) => TextQueries.hybridRrf(s, d)),
    "q148_bpe_encode"     -> ((s, d) => TextQueries.bpeEncode(s, d)),
    "q149_k_anonymity"    -> ((s, d) => graft.operators.Stats.kAnonymityAudit(s, d)),
    "q150_split_balance"  -> (graft.operators.Stats.splitBalanceAudit _),
    "q151_gram_novelty"   -> (TextQueries.gramNovelty _),
    "q152_effective_size" -> (TextQueries.effectiveSize _),
    "q153_ppr"            -> ((s, d) => graft.operators.Graph.personalizedPagerank(s, d)),
    "q154_cooccurrence"   -> ((s, d) => TextQueries.cooccurrence(s, d)),
    "q155_dataset_card"   -> (TextQueries.datasetCard _),
    "q156_pct_normalize"  -> (TextQueries.percentileNormalize _),
    "q157_containment"    -> ((s, d) => Dedup.containmentPairs(s, d)),
    "q158_distinct_n"     -> (TextQueries.distinctN _),
    "q159_epoch_shuffle"  -> ((s, d) => TextQueries.epochShuffle(s, d)),
    "q160_curriculum"     -> ((s, d) => TextQueries.curriculumOrder(s, d)),
    // q161-q163: training-data layout family (operators/Layout.scala)
    "q161_sequence_pack"  -> ((s, d) => Layout.sequencePack(s, d)),
    "q162_shard_assign"   -> ((s, d) => Layout.shardAssign(s, d)),
    "q163_batch_waste"    -> ((s, d) => Layout.lengthBatchingWaste(s, d)),
    // q164-q166: curation-policy family (coverage filter, keeper policy,
    // filter agreement)
    "q164_dup_coverage"   -> ((s, d) => TextQueries.dupGramCoverage(s, d)),
    "q165_dedup_keepers"  -> ((s, d) => graft.operators.Dedup.dedupKeepers(s, d)),
    "q166_filter_kappa"   -> ((s, d) => graft.operators.Stats.filterAgreement(s, d)),
    // q167-q169: distribution-audit family (Zipf buckets, unigram
    // surprisal, embedding centroid drift)
    "q167_zipf_buckets"   -> (TextQueries.zipfBuckets _),
    "q168_surprisal"      -> (TextQueries.unigramSurprisal _),
    "q169_centroid_drift" -> (Similarity.labelCentroidDrift _),
    "q170_winnow_decontam" -> ((s, d) =>
      graft.operators.Curation.winnowDecontaminate(s, d)),
    "q171_temperature_mix" -> ((s, d) =>
      graft.operators.Curation.temperatureMix(s, d)),
    "q172_dup_spans"      -> ((s, d) => TextQueries.dupSpans(s, d)),
    "q173_semantic_decontam" -> ((s, d) => Similarity.semanticDecontam(s, d)),
    "q174_span_strip"     -> ((s, d) => TextQueries.spanStrip(s, d)),
    "q175_tokenizer_fertility" -> ((s, d) =>
      TextQueries.tokenizerFertility(s, d)),
    // q176-q178: labeled-data QA, budgeted selection, chunk inventory
    "q176_knn_label_audit" -> ((s, d) => Similarity.knnLabelAudit(s, d)),
    "q177_token_budget"   -> ((s, d) =>
      graft.operators.Curation.tokenBudgetSelect(s, d)),
    "q178_chunk_dedup"    -> ((s, d) => TextQueries.chunkDedup(s, d)),
    "q179_source_overlap" -> ((s, d) =>
      graft.operators.Curation.sourceOverlap(s, d)),
    "q180_ann_mrr"        -> ((s, d) => Similarity.annMrr(s, d)),
    "q181_rule_attrition" -> ((s, d) =>
      graft.operators.Curation.ruleAttrition(s, d)),
    "q182_dsir"           -> ((s, d) =>
      graft.operators.Curation.dsirSelect(s, d)),
    "q183_heldout_xent"   -> ((s, d) => TextQueries.heldoutBigramXent(s, d)),
    "q184_nb_confusion"   -> ((s, d) =>
      graft.operators.Curation.nbConfusion(s, d)),
    "q185_cluster_purity" -> ((s, d) => Similarity.clusterPurity(s, d)),
    "q186_ann_filtered"   -> ((s, d) => Similarity.filteredTopK(s, d)),
    "q187_pack_contamination" -> ((s, d) =>
      graft.operators.Layout.packContamination(s, d)),
    "q188_ppl_buckets"      -> ((s, d) => TextQueries.pplBuckets(s, d)),
    "q189_cluster_chaining" -> ((s, d) => Dedup.clusterChaining(s, d)),
    "q190_nb_calibration"   -> ((s, d) =>
      graft.operators.Curation.nbMarginCalib(s, d)),
    "q191_label_outliers"   -> ((s, d) => Similarity.labelOutliers(s, d)),
    "q192_dup_quality_lift" -> ((s, d) => Dedup.dupQualityLift(s, d)),
    "q193_ctx_sweep"        -> ((s, d) =>
      graft.operators.Layout.ctxLenSweep(s, d)),
    "q194_decontam_kappa"   -> ((s, d) =>
      graft.operators.Curation.decontamAgreement(s, d)),
  )

  // ---- generated oracle fragments --------------------------------------
  // Kept in lockstep with the Scala expressions by construction: the same
  // PortableHash / FloatVecLshBucket constants generate both the Column
  // trees and these SQL strings.

  /** `sample < 32` applies the q103 h60 doc slice at the source — the
    * sfx1 oracle-gate basis (VERDICT r13 #2); 32 is the full corpus and
    * reproduces the historical string byte-for-byte. */
  private def toksCteSampled(sample: Int): String = {
    val where =
      if (sample >= 32) ""
      else " WHERE " + graft.functions.PortableHash
        .h60Sql("CAST(doc_id AS VARCHAR)") + s" < ${sample.toLong << 55}"
    "toks AS (SELECT doc_id, [t for t in string_split_regex(lower(text), " +
      s"'[^a-z0-9]+') if len(t) > 0] AS t FROM documents$where)"
  }

  private val toksCte = toksCteSampled(32)

  /** DuckDB cosine mirroring FloatVecCosine's arg order (norm(a)*norm(b)). */
  private def cosSql(a: String, b: String): String =
    s"round(list_sum([CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) for z in list_zip($a, $b)]) / " +
      s"(sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in $a])) * " +
      s"sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in $b]))), 6)"

  /** CTEs producing the banded-MinHash verified near-dup pair basis —
    * `shr` (candidate pairs with shared-hash counts) and `cnt` (per-doc
    * distinct shingle-hash counts) — mirroring Dedup.minhashLshPairs
    * bit-for-bit. Shared by q17 AND the q48/q49 clustering oracles, so the
    * oracle's edge set is the ENGINE's edge definition (banded candidates,
    * exact verification), not the quadratic twin: a banding miss on some
    * future corpus changes both sides identically instead of failing the
    * gate spuriously. */
  /** CTEs through `cand` (LSH band-bucket candidate pairs) — the
    * candidate-generation prefix of [[minhashPairCtes]], reused alone by
    * the q140 audit's minhash leg (candidates ∩ truth). */
  private def minhashCandCtes: String = minhashCandCtesSampled(32)

  private def minhashCandCtesSampled(sample: Int): String = {
    import graft.functions.PortableHash
    val k = 64; val bands = 16; val r = k / bands
    val slots = (0 until k)
      .map(i => s"MIN(${PortableHash.slotHashSql(i, s"(h % ${PortableHash.P})")}) AS m$i")
      .mkString(", ")
    val bandList = (0 until bands)
      .map(b => PortableHash.bandFoldSql((b * r until (b + 1) * r).map(j => s"m$j")))
      .mkString(", ")
    s"""${toksCteSampled(sample)},
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS shingle
       |  FROM toks WHERE len(t) >= 3)),
       |eh AS (SELECT doc_id, ${PortableHash.h60Sql("shingle")} AS h FROM sh),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM eh GROUP BY 1),
       |sig AS (SELECT doc_id, $slots FROM eh GROUP BY 1),
       |bands AS (SELECT doc_id, unnest(generate_series(0, ${bands - 1})) AS band_id,
       |  unnest([$bandList]) AS band_hash FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a JOIN bands b
       |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def minhashPairCtes: String = minhashPairCtesSampled(32)

  /** q189's oracle, parameterized by the h60 doc slice (sample = 32 is
    * the registered full oracle, byte-identical to the historical
    * string). */
  private def clusterChainingOracleSql(sample: Int): String = {
    import graft.functions.PortableHash
    val h = PortableHash.h60Sql("CAST(cl.doc_id AS VARCHAR)")
    s"""WITH RECURSIVE ${minhashPairCtesSampled(sample)},
       |jp AS (SELECT id_a, id_b FROM shr
       |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
       |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
       |sym AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
       |reach AS (
       |  SELECT DISTINCT id_a AS id, id_a AS label FROM sym
       |  UNION
       |  SELECT s.id_a AS id, r.label FROM sym s JOIN reach r ON s.id_b = r.id),
       |cl AS (SELECT id AS doc_id, MIN(label) AS cluster FROM reach GROUP BY id),
       |cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS csize FROM cl
       |  GROUP BY 1 HAVING COUNT(*) >= 2),
       |sm AS (SELECT cluster, csize, doc_id FROM (
       |  SELECT cl.cluster, cs.csize, cl.doc_id,
       |    row_number() OVER (PARTITION BY cl.cluster
       |      ORDER BY $h, cl.doc_id) AS rk
       |  FROM cl JOIN cs USING (cluster)) WHERE rk <= 8),
       |pq AS (SELECT a.cluster, LEAST(a.csize, 5) AS size_bucket,
       |    a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sm a JOIN sm b ON a.cluster = b.cluster AND a.doc_id < b.doc_id),
       |shp AS (SELECT pq.id_a, pq.id_b, CAST(COUNT(*) AS BIGINT) AS sh
       |  FROM pq JOIN eh ea ON ea.doc_id = pq.id_a
       |  JOIN eh eb ON eb.doc_id = pq.id_b AND eb.h = ea.h GROUP BY 1, 2),
       |pj AS (SELECT pq.cluster, pq.size_bucket,
       |    COALESCE(shp.sh, 0) AS sh, ca.n AS na, cb.n AS nb
       |  FROM pq LEFT JOIN shp ON shp.id_a = pq.id_a AND shp.id_b = pq.id_b
       |  JOIN cnt ca ON ca.doc_id = pq.id_a JOIN cnt cb ON cb.doc_id = pq.id_b),
       |pz AS (SELECT cluster, size_bucket,
       |    sh * 1000000 // (na + nb - sh) AS j_ppm FROM pj)
       |SELECT size_bucket, CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(j_ppm) // COUNT(*) AS BIGINT) AS mean_j_ppm,
       |  CAST(SUM(CASE WHEN j_ppm < 300000 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS chained_ppm
       |FROM pz GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def minhashPairCtesSampled(sample: Int): String =
    s"""${minhashCandCtesSampled(sample)},
       |shr AS (SELECT id_a, id_b, COUNT(*) AS shared FROM cand
       |  JOIN eh ea ON ea.doc_id = id_a JOIN eh eb ON eb.doc_id = id_b AND eb.h = ea.h
       |  GROUP BY 1, 2)""".stripMargin

  /** CTEs through `f` (per-doc curation flags: pq/kept/clean), building on
    * [[minhashPairCtes]] — mirrors Curation.curationFlags. Shared by the
    * q59 funnel and the q62 curated packed corpus. */
  private def curationFlagCtes: String = {
    import graft.functions.PortableHash
    s"""$minhashPairCtes,
       |jp AS (SELECT id_a, id_b FROM shr
       |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
       |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
       |sym AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
       |reach AS (
       |  SELECT DISTINCT id_a AS id, id_a AS label FROM sym
       |  UNION
       |  SELECT s.id_a AS id, r.label FROM sym s JOIN reach r ON s.id_b = r.id),
       |drp AS (SELECT id FROM reach GROUP BY id HAVING MIN(label) <> id),
       |meta AS (SELECT doc_id, ${PortableHash.h60Sql("text")} % 100 AS bucket,
       |    round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) /
       |      CAST(length(text) AS DOUBLE), 6) AS alpha_ratio
       |  FROM documents),
       |shc AS (SELECT DISTINCT sg.doc_id, m.bucket,
       |    ${PortableHash.h60Sql("shingle")} AS gh FROM (
       |  SELECT doc_id, unnest([list_aggregate(t[i:i+12], 'string_agg', ' ')
       |    for i in generate_series(1, len(t) - 12)]) AS shingle
       |  FROM toks WHERE len(t) >= 13) sg JOIN meta m ON m.doc_id = sg.doc_id),
       |tg AS (SELECT DISTINCT gh FROM shc WHERE bucket >= 90),
       |con AS (SELECT DISTINCT s.doc_id FROM shc s JOIN tg USING (gh) WHERE s.bucket < 90),
       |f AS (SELECT tk.doc_id, m.bucket, CAST(len(tk.t) AS BIGINT) AS n_tokens,
       |    (len(tk.t) >= 10 AND m.alpha_ratio >= 0.5) AS pq,
       |    tk.doc_id NOT IN (SELECT id FROM drp) AS kept,
       |    (m.bucket < 80 AND tk.doc_id NOT IN (SELECT doc_id FROM con)) AS clean
       |  FROM toks tk JOIN meta m ON m.doc_id = tk.doc_id)""".stripMargin
  }

  /** CTEs computing the 60-bit portable simhash per doc (mirrors
    * Dedup.simhashFingerprints bit-for-bit). */
  private def simhashCtes: String = {
    import graft.functions.PortableHash
    val sums = (0 until Dedup.SimhashBits)
      .map(i => s"SUM(((h >> $i) & 1) * 2 - 1) AS c$i").mkString(", ")
    val bits = (0 until Dedup.SimhashBits)
      .map(i => s"CASE WHEN c$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""$toksCte,
       |th AS (SELECT doc_id, ${PortableHash.h60Sql("tok")} AS h
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
       |c AS (SELECT doc_id, $sums FROM th GROUP BY 1),
       |sfp AS (SELECT doc_id, ($bits) AS simhash FROM c)""".stripMargin
  }

  /** DuckDB oracles. Every declared query has one: the LSH-family queries
    * (q17/q18/q19/q21/q31) hash with the engine-portable PortableHash /
    * FloatVecLshBucket basis, so DuckDB recomputes identical signatures,
    * bands, and buckets. */
  def oracleSql: Map[String, String] =
    oracleSqlBase +
      ("q130_ann_recall" -> annRecallSql(oracleSqlBase)) +
      ("q140_dedup_quality" -> dedupQualitySql(oracleSqlBase)) +
      ("q180_ann_mrr" -> annMrrSql(oracleSqlBase))

  /** q140 oracle: the dedup methods' own proven SQL protocols composed
    * into a recall/precision audit against the exact-Jaccard truth —
    * the q130 composition pattern applied to the dedup family. */
  private def dedupQualitySql(base: Map[String, String],
                              sample: Int = 8): String = {
    // the audit runs on the q103-predicate doc sample (sample/32 of the
    // corpus) — every method's proven SQL protocol re-targeted at the
    // sampled doc set by swapping its base-table reference for the sdocs
    // CTE; the Spark side applies the identical integer predicate
    val pred =
      s"(${graft.functions.PortableHash.h60Sql("CAST(doc_id AS VARCHAR)")})" +
        s" < ${sample.toLong << 55}"
    def sampled(sql: String): String =
      if (sample >= 32) sql else sql.replace("FROM documents", "FROM sdocs")
    // minhash mirrors the Spark side's audit protocol: CANDIDATES ∩
    // truth (verification is lossless and hash-gated by q17's own full
    // pipeline; grading against the STRING-jaccard truth keeps both
    // engines free of any hash-collision dependence). ppjoin's oracle is
    // already the brute-force truth at t=0.5, which equals candidates ∩
    // truth by PPJoin's losslessness — unchanged.
    val minhashCandBody =
      s"""WITH $minhashCandCtes
         |SELECT id_a, id_b FROM cand
         |INTERSECT SELECT id_a, id_b FROM ex""".stripMargin
    val methods = Seq(
      "fuzzy_heads" -> sampled(base("q101_fuzzy_dups")),
      "minhash_lsh" -> sampled(minhashCandBody),
      "ppjoin_t05" -> sampled(base("q131_ppjoin")),
      "simhash" -> sampled(base("q19_simhash_pairs")))
    val ctes = methods
      .map { case (nm, body) => s"m_$nm AS MATERIALIZED (\n$body\n)" }
      .mkString(",\n")
    val rows = methods.map { case (nm, _) =>
      s"""SELECT '$nm' AS method,
         |  (SELECT COUNT(*) FROM m_$nm) AS n_pairs,
         |  (SELECT COUNT(*) FROM (SELECT id_a, id_b FROM m_$nm
         |    INTERSECT SELECT id_a, id_b FROM ex)) AS n_hits"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sdocs AS MATERIALIZED (
       |  SELECT * FROM documents WHERE $pred),
       |ex AS MATERIALIZED (
       |${sampled(base("q16_ngram_jaccard"))}
       |),
       |$ctes,
       |nx AS (SELECT COUNT(*) AS n_exact FROM ex),
       |h AS ($rows)
       |SELECT method, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST(n_hits AS BIGINT) AS n_hits,
       |  CAST(n_hits * 1000000 // n_exact AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN n_pairs = 0 THEN 0
       |    ELSE n_hits * 1000000 // n_pairs END AS BIGINT)
       |    AS precision_ppm
       |FROM h CROSS JOIN nx ORDER BY method""".stripMargin
  }

  /** q130 oracle: the ANN methods' own proven SQL protocols composed
    * into a recall audit against the exact top-k — both engines grade
    * the same candidate sets against the same truth. */
  private def annRecallSql(base: Map[String, String],
                           sample: Int = 8): String = {
    // corpus slice for the audit: query vectors always kept, corpus rows
    // by the q103 predicate — mirrored exactly by Similarity.embSample
    val pred = "vec_id < 5 OR " +
      s"(${graft.functions.PortableHash.h60Sql("CAST(vec_id AS VARCHAR)")})" +
      s" < ${sample.toLong << 55}"
    def sampled(sql: String): String =
      if (sample >= 32) sql else sql.replace("FROM embeddings", "FROM semb")
    val methods = Seq(
      "int8" -> "q65_ann_quantized",
      "ivf" -> "q31_ann_ivf",
      "ivfpq" -> "q129_ann_ivfpq",
      "lsh_banded" -> "q42_ann_lsh_banded",
      "pq" -> "q128_ann_pq")
    val ctes = methods
      .map { case (nm, key) => s"m_$nm AS (\n${sampled(base(key))}\n)" }
      .mkString(",\n")
    val rows = methods.map { case (nm, _) =>
      s"""SELECT '$nm' AS method, CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM (SELECT qid, nid FROM m_$nm INTERSECT
         |        SELECT qid, nid FROM ex)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH semb AS MATERIALIZED (
       |  SELECT * FROM embeddings WHERE $pred),
       |ex AS (
       |${sampled(base("q20_ann_topk"))}
       |),
       |$ctes,
       |nx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
       |h AS ($rows)
       |SELECT method, n_exact, n_hits,
       |  n_hits * 1000000 // n_exact AS recall_ppm
       |FROM h CROSS JOIN nx ORDER BY method""".stripMargin
  }

  /** q180 oracle: the q130 composition with rank-aware scoring — each
    * method's proven SQL re-ranked by its OWN score column, reciprocal
    * rank of the first exact-truth hit in integer ppm. */
  private def annMrrSql(base: Map[String, String],
                        sample: Int = 8): String = {
    val pred = "vec_id < 5 OR " +
      s"(${graft.functions.PortableHash.h60Sql("CAST(vec_id AS VARCHAR)")})" +
      s" < ${sample.toLong << 55}"
    def sampled(sql: String): String =
      if (sample >= 32) sql else sql.replace("FROM embeddings", "FROM semb")
    val methods = Seq(
      ("int8", "q65_ann_quantized", "qsim"),
      ("ivf", "q31_ann_ivf", "sim"),
      ("ivfpq", "q129_ann_ivfpq", "adc_micro"),
      ("lsh_banded", "q42_ann_lsh_banded", "sim"),
      ("pq", "q128_ann_pq", "adc_micro"))
    val ctes = methods.map { case (nm, key, score) =>
      s"""m_$nm AS (
         |${sampled(base(key))}
         |),
         |r_$nm AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |    ORDER BY $score DESC, nid) AS rk FROM m_$nm),
         |fh_$nm AS (SELECT r.qid, MIN(r.rk) AS frk FROM r_$nm r
         |  JOIN ex ON ex.qid = r.qid AND ex.nid = r.nid GROUP BY 1)"""
        .stripMargin
    }.mkString(",\n")
    val rows = methods.map { case (nm, _, _) =>
      s"""SELECT '$nm' AS method,
         |  CAST(SUM(COALESCE(1000000 // fh.frk, 0)) AS BIGINT)
         |    AS sum_rr_ppm
         |  FROM qs LEFT JOIN fh_$nm fh USING (qid)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH semb AS MATERIALIZED (
       |  SELECT * FROM embeddings WHERE $pred),
       |ex AS (
       |${sampled(base("q20_ann_topk"))}
       |),
       |$ctes,
       |qs AS (SELECT DISTINCT qid FROM ex),
       |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qs),
       |h AS ($rows)
       |SELECT method, n_queries, sum_rr_ppm,
       |  sum_rr_ppm // n_queries AS mrr_ppm
       |FROM h CROSS JOIN nq ORDER BY method""".stripMargin
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_window_stats" ->
      """SELECT ((epoch_ns(ts)//1000000000)//3600)*3600 AS win_start, event_type,
        |  COUNT(*) AS pv_ct, COUNT(DISTINCT user_id) AS uv_ct,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q03_province_stats" ->
      """SELECT r_name, n_name, COUNT(DISTINCT o_orderkey) AS order_ct,
        |  COUNT(DISTINCT o_custkey) AS customer_ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q04_order_line_band" ->
      """SELECT o_orderpriority, COUNT(*) AS line_ct,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q05_star_wide" ->
      """SELECT n_name, p_brand, COUNT(*) AS line_ct,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY n_name, p_brand ORDER BY n_name, p_brand""".stripMargin,
    "q06_uv_per_day" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(DISTINCT user_id) AS uv_ct,
        |  COUNT(*) AS pv_ct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_jump_detect" ->
      """SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS ts_sec FROM (
        |  SELECT user_id, event_id, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |WHERE nxt IS NULL OR epoch_ns(nxt) - epoch_ns(ts) > 600000000000
        |ORDER BY user_id, event_id""".stripMargin,
    "q08_session_entries" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS session_ct FROM (
        |  SELECT ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prv
        |  FROM events)
        |WHERE prv IS NULL OR epoch_ns(ts) - epoch_ns(prv) > 1800000000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q09_gmv" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
        |  COUNT(*) AS order_ct
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_keyword_count" ->
      """SELECT keyword, COUNT(*) AS ct FROM (
        |  SELECT unnest([t for t in string_split_regex(lower(text), '[^a-z0-9]+') if len(t) > 0]) AS keyword
        |  FROM documents)
        |GROUP BY keyword ORDER BY keyword""".stripMargin,
    "q11_metric_unpivot" ->
      """WITH agg AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS ct,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1)
        |SELECT event_type, metric, value FROM (
        |  SELECT event_type, 'ct' AS metric, ct AS value FROM agg
        |  UNION ALL SELECT event_type, 'sum_value' AS metric, sum_value AS value FROM agg)
        |WHERE value > 0 ORDER BY event_type, metric""".stripMargin,
    "q12_new_visitor" ->
      """WITH f AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
        |    MIN(strftime(ts, '%Y-%m-%d')) OVER (PARTITION BY user_id) AS first_day
        |  FROM events)
        |SELECT day, CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_ct,
        |  CAST(SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS old_ct
        |FROM f GROUP BY day ORDER BY day""".stripMargin,
    "q13_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(CASE WHEN CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) > 50 THEN 1 END) AS big_k_ct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q14_top_parts" ->
      """WITH rev AS (SELECT l_partkey,
        |    CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT p_brand, p_partkey, revenue FROM rev JOIN part ON l_partkey = p_partkey)
        |SELECT p_brand, rk, p_partkey, revenue FROM (
        |  SELECT p_brand, p_partkey, revenue,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rk
        |  FROM j)
        |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin,
    "q15_dedup_exact" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS dup_ct, MIN(doc_id) AS keep_id
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY content_hash""".stripMargin,
    "q16_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id,
        |    [t for t in string_split_regex(lower(text), '[^a-z0-9]+') if len(t) > 0] AS t
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS shingle
        |  FROM toks WHERE len(t) >= 3)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) AS jaccard
        |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
        |WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    "q17_minhash_pairs" ->
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b,
         |  round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) AS jaccard
         |FROM shr JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         |WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,
    "q18_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sfp ORDER BY doc_id""".stripMargin,
    "q19_simhash_pairs" -> {
      val width = Dedup.SimhashBits / 4 // maxHamming=3 -> 4 pigeonhole blocks
      val mask = (1L << width) - 1
      val blockList = (0 until 4).map {
        case 3 => s"simhash >> ${3 * width}"
        case q => s"(simhash >> ${q * width}) & $mask"
      }.mkString(", ")
      s"""WITH $simhashCtes,
         |blk AS (SELECT doc_id, simhash, unnest(generate_series(0, 3)) AS q,
         |  unnest([$blockList]) AS qh FROM sfp),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM blk a JOIN blk b ON a.q = b.q AND a.qh = b.qh AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM p WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b""".stripMargin
    },
    "q20_ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id AS nid,
        |  round(list_sum([CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) for z in list_zip(q.qe, e.embedding)]) /
        |    (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in q.qe])) *
        |     sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in e.embedding]))), 6) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid)
        |SELECT qid, nid, sim FROM (
        |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
        |WHERE rn <= 10 ORDER BY qid, nid""".stripMargin,
    "q21_ann_lsh" -> {
      val bucket = graft.plans.FloatVecLshBucket.bucketSql("embedding", 8)
      s"""WITH e AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM e WHERE vec_id < 5),
         |s AS (SELECT qid, e.vec_id AS nid, ${cosSql("q.qe", "e.embedding")} AS sim
         |  FROM e JOIN q ON e.bucket = q.bucket WHERE e.vec_id <> q.qid)
         |SELECT qid, nid, sim FROM (
         |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
         |WHERE rn <= 10 ORDER BY qid, nid""".stripMargin
    },
    "q31_ann_ivf" -> {
      // mirrors ivfTopK's 2-round Lloyd refinement: assignment by
      // round(cosine,6), member means via EXACT decimal sums (order-free →
      // bit-identical across engines), components narrowed to FLOAT
      val dims = 64
      def assignCte(out: String, cin: String): String =
        s"""$out AS (SELECT vec_id, embedding, cid FROM (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
           |  FROM embeddings e, $cin c) WHERE rn = 1)""".stripMargin
      def lloydCte(r: Int, ain: String, cout: String): String =
        s"""m$r AS (SELECT cid, t.generate_series AS pos,
           |    CAST(CAST(SUM(CAST(embedding[t.generate_series] AS DECIMAL(27,7))) AS DOUBLE)
           |      / COUNT(*) AS FLOAT) AS comp
           |  FROM $ain, generate_series(1, $dims) t GROUP BY 1, 2),
           |$cout AS (SELECT cid, list(comp ORDER BY pos) AS ce FROM m$r GROUP BY cid)""".stripMargin
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |${assignCte("a1", "c0")},
         |${lloydCte(1, "a1", "c1")},
         |${assignCte("a2", "c1")},
         |${lloydCte(2, "a2", "c2")},
         |${assignCte("asg", "c2")},
         |probes AS (SELECT qid, qe, cid FROM (
         |  SELECT q.vec_id AS qid, q.embedding AS qe, c.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.embedding", "c.ce")} DESC, c.cid) AS rn
         |  FROM embeddings q, c2 c WHERE q.vec_id < 5) WHERE rn <= 2),
         |s AS (SELECT p.qid, a.vec_id AS nid, ${cosSql("p.qe", "a.embedding")} AS sim
         |  FROM asg a JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> p.qid)
         |SELECT qid, nid, sim FROM (
         |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
         |WHERE rn <= 10 ORDER BY qid, nid""".stripMargin
    },
    "q22_langid" ->
      """WITH t AS (SELECT doc_id,
        |    [t for t in string_split_regex(lower(text), '[^a-z0-9]+') if len(t) > 0] AS toks
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |  CAST(len([x for x in toks if list_contains(['the','a','of','and','to','in','is','it','for','on'], x)]) AS BIGINT) AS s_en,
        |  CAST(len([x for x in toks if list_contains(['der','die','das','und','ist','ein','zu','mit','von','nicht'], x)]) AS BIGINT) AS s_de,
        |  CAST(len([x for x in toks if list_contains(['el','la','de','que','y','en','un','es','por','con'], x)]) AS BIGINT) AS s_es,
        |  CAST(len([x for x in toks if list_contains(['le','la','de','et','est','un','une','dans','pour','que'], x)]) AS BIGINT) AS s_fr
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
        |       WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
        |       WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS pred_lang,
        |  s_en, s_de, s_es, s_fr
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q23_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |    [t for t in string_split_regex(lower(text), '[^a-z0-9]+') if len(t) > 0] AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  round(CAST(list_sum([len(x) for x in toks]) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS mean_tok_len,
        |  round(CAST(len([x for x in toks if list_contains(['the','a','of','and','to','in','is','it','for','on','der','die','das','und','ist','ein','zu','mit','von','nicht','el','la','de','que','y','en','un','es','por','con','le','et','est','une','dans','pour'], x)]) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
        |  round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    "q24_token_count" ->
      """SELECT doc_id,
        |  CAST(len([t for t in string_split_regex(text, '\s+') if len(t) > 0]) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q25_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string([t for t in string_split_regex(lower(text), '[^a-z0-9]+') if len(t) > 0], ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q26_media_stats" ->
      """SELECT doc_id, 'text/plain' AS media_type, CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q27_embed_dups" -> {
      // mirrors embeddingDupPairsLsh: 60-bit hyperplane bucket -> ADAPTIVE
      // bands (bpb = smallest multiple of 4 with 2^bpb * 128 >= count(*),
      // bands = 60 div bpb; N <= 2000 reproduces the original 15x4
      // geometry) -> any-band candidates -> exact cosine verify
      val bucket = graft.plans.FloatVecLshBucket.bucketSql("embedding", 60)
      s"""WITH e AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings),
         |p AS (SELECT COALESCE(MIN(r), 20) AS bpb
         |  FROM (SELECT unnest([4, 8, 12, 16, 20]) AS r),
         |       (SELECT COUNT(*) AS n FROM e)
         |  WHERE (1::BIGINT << r) * 128 >= n),
         |bnd AS (SELECT vec_id, band_id,
         |    (bucket >> (band_id * bpb)) & ((1::BIGINT << bpb) - 1) AS band_sig
         |  FROM e, p, (SELECT unnest(generate_series(0, 14)) AS band_id)
         |  WHERE band_id < 60 // bpb),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bnd a JOIN bnd b ON a.band_id = b.band_id
         |    AND a.band_sig = b.band_sig AND a.vec_id < b.vec_id),
         |s AS (SELECT id_a, id_b, ${cosSql("ea.embedding", "eb.embedding")} AS sim
         |  FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, sim FROM s WHERE sim >= 0.45 ORDER BY id_a, id_b""".stripMargin
    },
    "q28_latest_event" ->
      """SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec FROM (
        |  SELECT user_id, event_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q29_keyword_product" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |    [t for t in string_split_regex(lower(text), '[^a-z0-9]+') if len(t) > 0] AS toks
        |  FROM documents),
        |x AS (SELECT n_chars, CAST(len(toks) AS BIGINT) AS n_tokens, unnest(toks) AS keyword FROM t),
        |u AS (SELECT keyword, 'CHARS' AS source, n_chars AS ct FROM x
        |      UNION ALL SELECT keyword, 'TOKENS' AS source, n_tokens AS ct FROM x)
        |SELECT keyword, source, CAST(SUM(ct) AS BIGINT) AS sum_ct, COUNT(*) AS rows_ct
        |FROM u WHERE ct > 0 GROUP BY keyword, source ORDER BY keyword, source""".stripMargin,
    "q30_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000000000 AS sec, value FROM events),
        |o AS (SELECT user_id, sec, value,
        |    CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec) IS NULL
        |         OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (SELECT user_id, sec, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(sec) AS session_start, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q32_sliding_window" ->
      """WITH e AS (SELECT epoch_ns(ts)//1000000000 AS sec, event_type, value FROM events),
        |w AS (SELECT unnest([ (sec//1800)*1800, (sec//1800)*1800 - 1800 ]) AS win_start,
        |        event_type, value
        |      FROM e)
        |SELECT win_start, event_type, COUNT(*) AS ct,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin,
    "q33_rollup" ->
      """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
        |  COUNT(*) AS order_ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "q34_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q35_semi_anti" ->
      """WITH w AS (SELECT c_mktsegment, COUNT(*) AS with_orders FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM orders) GROUP BY 1),
        |wo AS (SELECT c_mktsegment, COUNT(*) AS without_orders FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) GROUP BY 1)
        |SELECT COALESCE(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
        |  COALESCE(with_orders, 0) AS with_orders,
        |  COALESCE(without_orders, 0) AS without_orders
        |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q36_running_total" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q37_pivot" ->
      """SELECT strftime(ts, '%a') AS dow,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY dow""".stripMargin,
    "q38_avg_metrics" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q39_product_stats_full" -> {
      // one SELECT per seed stream, mirroring MetricUnion.seed's
      // null-id / zero-metric padding column-for-column
      val idNames = Seq("order_id", "paid_order_id", "refund_order_id")
      val ctNames = Seq("click_ct", "display_ct", "favor_ct", "cart_ct",
        "order_sku_num", "comment_ct", "good_comment_ct")
      val amNames = Seq("order_amount", "payment_amount", "refund_amount")
      def seedSql(from: String, ids: Map[String, String],
                  vals: Map[String, String], where: String = ""): String = {
        val cols =
          idNames.map(c => s"${ids.getOrElse(c, "NULL::VARCHAR")} AS $c") ++
          ctNames.map(c => s"${vals.getOrElse(c, "0::BIGINT")} AS $c") ++
          amNames.map(c => s"${vals.getOrElse(c, "0.0")} AS $c")
        s"SELECT sku_id, sec, ${cols.mkString(", ")} FROM $from" +
          (if (where.isEmpty) "" else s" WHERE $where")
      }
      val seeds = Seq(
        seedSql("ev", Map.empty, Map("click_ct" -> "1::BIGINT"), "event_type = 'click'"),
        seedSql("ev", Map.empty, Map("display_ct" -> "1::BIGINT"), "event_type = 'view'"),
        seedSql("ev", Map.empty, Map("favor_ct" -> "1::BIGINT"), "event_type = 'signup'"),
        seedSql("ev", Map.empty, Map("cart_ct" -> "1::BIGINT"), "event_type = 'purchase'"),
        seedSql("ev", Map.empty, Map("comment_ct" -> "1::BIGINT",
          "good_comment_ct" -> "CASE WHEN value > 50.0 THEN 1::BIGINT ELSE 0::BIGINT END"),
          "event_type = 'error'"),
        seedSql("li", Map("order_id" -> "CAST(l_orderkey AS VARCHAR)"),
          Map("order_sku_num" -> "CAST(l_quantity AS BIGINT)",
            "order_amount" -> "l_extendedprice")),
        seedSql("li", Map("paid_order_id" -> "CAST(l_orderkey AS VARCHAR)"),
          Map("payment_amount" -> "l_extendedprice")),
        seedSql("li", Map("refund_order_id" -> "CAST(l_orderkey AS VARCHAR)"),
          Map("refund_amount" -> "l_extendedprice"), "l_returnflag = 'R'"))
      s"""WITH ev AS (SELECT CAST(event_id % 100 AS VARCHAR) AS sku_id,
         |    epoch_ns(ts)//1000000000 AS sec, event_type, value FROM events),
         |li AS (SELECT CAST(l_partkey % 100 AS VARCHAR) AS sku_id,
         |    epoch_ns(l_shipdate)//1000000000 AS sec, l_orderkey, l_quantity,
         |    l_extendedprice, l_returnflag FROM lineitem),
         |u AS (${seeds.mkString("\n  UNION ALL ")})
         |SELECT sku_id,
         |  CAST(SUM(click_ct) AS BIGINT) AS click_ct,
         |  CAST(SUM(display_ct) AS BIGINT) AS display_ct,
         |  CAST(SUM(favor_ct) AS BIGINT) AS favor_ct,
         |  CAST(SUM(cart_ct) AS BIGINT) AS cart_ct,
         |  CAST(SUM(order_sku_num) AS BIGINT) AS order_sku_num,
         |  CAST(SUM(CAST(order_amount AS DECIMAL(18,2))) AS DOUBLE) AS order_amount,
         |  COUNT(DISTINCT order_id) AS order_ct,
         |  CAST(SUM(CAST(payment_amount AS DECIMAL(18,2))) AS DOUBLE) AS payment_amount,
         |  COUNT(DISTINCT paid_order_id) AS paid_order_ct,
         |  CAST(SUM(CAST(refund_amount AS DECIMAL(18,2))) AS DOUBLE) AS refund_amount,
         |  COUNT(DISTINCT refund_order_id) AS refund_order_ct,
         |  CAST(SUM(comment_ct) AS BIGINT) AS comment_ct,
         |  CAST(SUM(good_comment_ct) AS BIGINT) AS good_comment_ct,
         |  strftime(to_timestamp((sec//86400)*86400), '%Y-%m-%d %H:%M:%S') AS stt,
         |  strftime(to_timestamp((sec//86400)*86400 + 86400), '%Y-%m-%d %H:%M:%S') AS edt
         |FROM u GROUP BY sku_id, sec//86400 ORDER BY stt, sku_id""".stripMargin
    },
    "q40_order_wide_enriched" ->
      s"""SELECT n_name, c_mktsegment, p_brand,
         |  (epoch_ms(TIMESTAMP '1998-12-01 00:00:00') - epoch_ms(o_orderdate))
         |    // ${graft.streaming.OrderWideEnrich.MsPerYear} AS user_age,
         |  COUNT(*) AS line_ct,
         |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    "q41_visitor_stats_full" ->
      """WITH e AS (SELECT 'v' || CAST(user_id % 3 AS VARCHAR) AS vc, event_type AS ch,
        |    'a' || CAST(user_id % 5 AS VARCHAR) AS ar,
        |    CASE WHEN value > 50.0 THEN '1' ELSE '0' END AS is_new,
        |    epoch_ns(ts)//1000000000 AS sec, event_id, value FROM events),
        |u AS (
        |  SELECT vc, ch, ar, is_new, sec, 1::BIGINT AS pv_ct, 0::BIGINT AS uv_ct,
        |    CASE WHEN event_id % 7 = 0 THEN 1::BIGINT ELSE 0::BIGINT END AS sv_ct,
        |    0::BIGINT AS uj_ct, CAST(event_id % 60 AS BIGINT) AS dur_sum FROM e
        |  UNION ALL SELECT vc, ch, ar, is_new, sec, 0::BIGINT, 1::BIGINT, 0::BIGINT,
        |    0::BIGINT, 0::BIGINT FROM e WHERE value < 10.0
        |  UNION ALL SELECT vc, ch, ar, is_new, sec, 0::BIGINT, 0::BIGINT, 0::BIGINT,
        |    1::BIGINT, 0::BIGINT FROM e WHERE value > 90.0)
        |SELECT vc, ch, ar, is_new,
        |  CAST(SUM(pv_ct) AS BIGINT) AS pv_ct, CAST(SUM(uv_ct) AS BIGINT) AS uv_ct,
        |  CAST(SUM(sv_ct) AS BIGINT) AS sv_ct, CAST(SUM(uj_ct) AS BIGINT) AS uj_ct,
        |  CAST(SUM(dur_sum) AS BIGINT) AS dur_sum,
        |  strftime(to_timestamp((sec//3600)*3600), '%Y-%m-%d %H:%M:%S') AS stt,
        |  strftime(to_timestamp((sec//3600)*3600 + 3600), '%Y-%m-%d %H:%M:%S') AS edt
        |FROM u GROUP BY vc, ch, ar, is_new, sec//3600
        |ORDER BY stt, vc, ch, ar, is_new""".stripMargin,
    "q42_ann_lsh_banded" -> {
      // mirrors lshTopKMulti: 60-bit bucket -> 15 bands of 4 bits ->
      // any-band candidates -> exact cosine -> top-10 per query
      val bucket = graft.plans.FloatVecLshBucket.bucketSql("embedding", 60)
      val bandList = (0 until 15).map(b => s"(bucket >> ${b * 4}) & 15").mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings),
         |bnd AS (SELECT vec_id, unnest(generate_series(0, 14)) AS band_id,
         |  unnest([$bandList]) AS band_sig FROM e),
         |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         |  FROM bnd c JOIN bnd q ON c.band_id = q.band_id AND c.band_sig = q.band_sig
         |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |s AS (SELECT qid, nid, ${cosSql("eq.embedding", "ec.embedding")} AS sim
         |  FROM cand JOIN e eq ON eq.vec_id = qid JOIN e ec ON ec.vec_id = nid)
         |SELECT qid, nid, sim FROM (
         |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
         |WHERE rn <= 10 ORDER BY qid, nid""".stripMargin
    },
    "q43_winnow" -> {
      import graft.functions.PortableHash
      // k=3 token grams, w=4 winnowing window — mirrors winnowFingerprints
      s"""WITH $toksCte,
         |g AS (SELECT doc_id, unnest(generate_series(1, len(t) - 2)) AS pos,
         |    unnest([${PortableHash.h60Sql("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}
         |      for i in generate_series(1, len(t) - 2)]) AS h
         |  FROM toks WHERE len(t) >= 3),
         |m AS (SELECT doc_id, pos,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
         |    COUNT(*) OVER (PARTITION BY doc_id) AS n
         |  FROM g)
         |SELECT DISTINCT doc_id, mh AS fp FROM m WHERE pos + 3 <= n
         |ORDER BY doc_id, fp""".stripMargin
    },
    "q44_pii_scan" -> {
      import graft.operators.TextQueries.{EmailRe, PhoneRe, UrlRe}
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS email_ct,
         |  CAST(len(regexp_extract_all(text, '$UrlRe')) AS BIGINT) AS url_ct,
         |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS phone_ct,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5,
         |  CASE WHEN len(regexp_extract_all(text, '$EmailRe'))
         |    + len(regexp_extract_all(text, '$UrlRe'))
         |    + len(regexp_extract_all(text, '$PhoneRe')) > 0
         |    THEN 1::BIGINT ELSE 0::BIGINT END AS has_pii
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q45_repetition" ->
      s"""WITH $toksCte,
         |b AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
         |    [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)] AS g
         |  FROM toks),
         |tt AS (SELECT doc_id, MAX(ct) AS top_ct FROM (
         |  SELECT doc_id, tok, COUNT(*) AS ct FROM (
         |    SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT b.doc_id,
         |  round(1.0 - CAST(nd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS dup_token_ratio,
         |  CASE WHEN len(g) > 0
         |    THEN round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE), 6)
         |    ELSE 0.0 END AS dup_bigram_ratio,
         |  round(CAST(top_ct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS top_tok_share
         |FROM b JOIN tt ON tt.doc_id = b.doc_id ORDER BY b.doc_id""".stripMargin,
    "q46_bm25_terms" ->
      s"""WITH $toksCte,
         |tt AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
         |  FROM tt GROUP BY 1, 2),
         |dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(len(t)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_len
         |  FROM toks),
         |sc AS (SELECT doc_id, term, round(
         |    (tf * (1.2 + 1.0) /
         |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avg_len))) *
         |    ((n_docs - df + 0.5) / (df + 0.5)), 6) AS score
         |  FROM tf JOIN dft USING (term) CROSS JOIN st)
         |SELECT doc_id, term, score, rk FROM (
         |  SELECT doc_id, term, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
         |  FROM sc)
         |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,
    "q47_split_assign" -> {
      import graft.functions.PortableHash
      s"""SELECT doc_id, ${PortableHash.h60Sql("text")} % 100 AS bucket,
         |  CASE WHEN ${PortableHash.h60Sql("text")} % 100 < 80 THEN 'train'
         |       WHEN ${PortableHash.h60Sql("text")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // q48/q49: clustering over the SAME banded-candidate verified pairs
    // the engine uses (minhashPairCtes) — oracle and engine share the edge
    // definition by construction
    "q48_dup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |jp AS (SELECT id_a, id_b FROM shr
         |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
         |sym AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         |reach AS (
         |  SELECT DISTINCT id_a AS id, id_a AS label FROM sym
         |  UNION
         |  SELECT s.id_a AS id, r.label FROM sym s JOIN reach r ON s.id_b = r.id)
         |SELECT id AS doc_id, MIN(label) AS cluster FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin,
    "q49_dedup_keep" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |jp AS (SELECT id_a, id_b FROM shr
         |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
         |sym AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         |reach AS (
         |  SELECT DISTINCT id_a AS id, id_a AS label FROM sym
         |  UNION
         |  SELECT s.id_a AS id, r.label FROM sym s JOIN reach r ON s.id_b = r.id),
         |drp AS (SELECT id FROM reach GROUP BY id HAVING MIN(label) <> id)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM drp)
         |ORDER BY doc_id""".stripMargin,
    // the salted two-phase aggregate is semantics-neutral: the oracle is
    // the plain group-by, and the hash-compare proves the equivalence
    "q50_salted_agg" ->
      """SELECT event_type, COUNT(*) AS pv_ct,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q51_uv_approx" -> {
      import graft.functions.{KmvDistinct, PortableHash}
      // mirrors uvPerDayApprox: the k-th smallest distinct h60(user_id)
      // per day drives the same KMV estimate arithmetic bit-for-bit
      s"""WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
         |    ${PortableHash.h60Sql("CAST(user_id AS VARCHAR)")} AS h FROM events),
         |pv AS (SELECT day, COUNT(*) AS pv_ct FROM e GROUP BY 1),
         |d AS (SELECT DISTINCT day, h FROM e),
         |r AS (SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM d),
         |st AS (SELECT day, COUNT(*) AS nd, MAX(CASE WHEN rn = 64 THEN h END) AS hk
         |  FROM r WHERE rn <= 64 GROUP BY 1)
         |SELECT st.day, ${KmvDistinct.estimateSql(64)} AS uv_est, pv.pv_ct
         |FROM st JOIN pv ON pv.day = st.day ORDER BY st.day""".stripMargin
    },
    "q52_province_approx" -> {
      import graft.functions.{KmvDistinct, PortableHash}
      def sketch(cte: String, keyExpr: String, out: String): String =
        s"""d_$out AS (SELECT DISTINCT r_name, n_name,
           |    ${PortableHash.h60Sql(keyExpr)} AS h FROM $cte),
           |r_$out AS (SELECT r_name, n_name, h, row_number() OVER (
           |    PARTITION BY r_name, n_name ORDER BY h) AS rn FROM d_$out),
           |s_$out AS (SELECT r_name, n_name, COUNT(*) AS nd,
           |    MAX(CASE WHEN rn = 64 THEN h END) AS hk
           |  FROM r_$out WHERE rn <= 64 GROUP BY 1, 2),
           |e_$out AS (SELECT r_name, n_name,
           |    ${KmvDistinct.estimateSql(64)} AS $out FROM s_$out)""".stripMargin
      s"""WITH j AS (SELECT r_name, n_name, o_orderkey, o_custkey
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey),
         |${sketch("j", "CAST(o_orderkey AS VARCHAR)", "order_est")},
         |${sketch("j", "CAST(o_custkey AS VARCHAR)", "customer_est")}
         |SELECT a.r_name, a.n_name, a.order_est, b.customer_est
         |FROM e_order_est a JOIN e_customer_est b
         |  ON a.r_name = b.r_name AND a.n_name = b.n_name
         |ORDER BY a.r_name, a.n_name""".stripMargin
    },
    "q53_pack_assign" -> {
      val budget = 2048; val shard = graft.operators.Corpus.PackShardDocs
      val binsPerShard = graft.operators.Corpus.PackBinsPerShard
      s"""WITH $toksCte,
         |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |    doc_id // $shard AS shard FROM toks),
         |c AS (SELECT doc_id, n_tokens, shard,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum_before
         |  FROM n)
         |SELECT doc_id, n_tokens,
         |  shard * ${binsPerShard}::BIGINT + cum_before // $budget AS bin,
         |  cum_before % $budget AS bin_offset
         |FROM c ORDER BY doc_id""".stripMargin
    },
    // q55: q53's packing chain over the q49-cleaned corpus — the drop set
    // derives from the SAME banded-candidate clustering CTEs, so the
    // oracle replays the trainingCorpusApp composition end-to-end
    "q55_corpus_packed" -> {
      val budget = 2048; val shard = graft.operators.Corpus.PackShardDocs
      val binsPerShard = graft.operators.Corpus.PackBinsPerShard
      s"""WITH RECURSIVE $minhashPairCtes,
         |jp AS (SELECT id_a, id_b FROM shr
         |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
         |sym AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         |reach AS (
         |  SELECT DISTINCT id_a AS id, id_a AS label FROM sym
         |  UNION
         |  SELECT s.id_a AS id, r.label FROM sym s JOIN reach r ON s.id_b = r.id),
         |drp AS (SELECT id FROM reach GROUP BY id HAVING MIN(label) <> id),
         |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |    doc_id // $shard AS shard FROM toks
         |  WHERE doc_id NOT IN (SELECT id FROM drp)),
         |c AS (SELECT doc_id, n_tokens, shard,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum_before
         |  FROM n)
         |SELECT doc_id, n_tokens,
         |  shard * ${binsPerShard}::BIGINT + cum_before // $budget AS bin,
         |  cum_before % $budget AS bin_offset
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "q54_chunk_spans" -> {
      import graft.functions.PortableHash
      val sz = 32; val ov = 8; val stride = sz - ov
      s"""WITH $toksCte,
         |n AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM toks
         |  WHERE len(t) > 0),
         |x AS (SELECT doc_id, t, n,
         |    unnest(generate_series(0, GREATEST(1, (n - $ov + $stride - 1) // $stride) - 1)) AS chunk_id
         |  FROM n),
         |sp AS (SELECT doc_id, chunk_id, chunk_id * $stride + 1 AS start_tok,
         |    LEAST(chunk_id * $stride + $sz, n) AS end_tok, t FROM x)
         |SELECT doc_id, chunk_id, start_tok, end_tok,
         |  ${PortableHash.h60Sql("array_to_string(t[start_tok:end_tok], ' ')")} AS chunk_hash
         |FROM sp ORDER BY doc_id, chunk_id""".stripMargin
    },
    // q56: 13-gram benchmark decontamination — split buckets and gram
    // hashes are the SAME h60-of-content in both engines
    "q56_decontaminate" -> {
      import graft.functions.PortableHash
      val n = 13
      s"""WITH toks AS (SELECT doc_id,
         |    ${PortableHash.h60Sql("text")} % 100 AS bucket,
         |    [t for t in string_split_regex(lower(text), '[^a-z0-9]+') if len(t) > 0] AS t
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id, bucket,
         |    ${PortableHash.h60Sql("shingle")} AS gh FROM (
         |  SELECT doc_id, bucket,
         |    unnest([list_aggregate(t[i:i+${n - 1}], 'string_agg', ' ')
         |      for i in generate_series(1, len(t) - ${n - 1})]) AS shingle
         |  FROM toks WHERE len(t) >= $n)),
         |tg AS (SELECT DISTINCT gh FROM sh WHERE bucket >= 90)
         |SELECT s.doc_id,
         |  CASE WHEN s.bucket < 80 THEN 'train' ELSE 'val' END AS split,
         |  COUNT(DISTINCT s.gh) AS n_hits
         |FROM sh s JOIN tg USING (gh) WHERE s.bucket < 90
         |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
    },
    // q57: the oracle is the NAIVE per-stratum ranking — the engine's
    // threshold-prefilter fast path must be indistinguishable from it
    "q57_stratified" -> {
      import graft.functions.PortableHash
      s"""WITH h AS (SELECT doc_id, lang, ${PortableHash.h60Sql("text")} AS h
         |  FROM documents),
         |r AS (SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
         |  FROM h)
         |SELECT doc_id, lang, rk FROM r WHERE rk <= 40
         |ORDER BY lang, rk""".stripMargin
    },
    // q58: integer-ppm mixture arithmetic — every step is BIGINT floor
    // division in both engines (// here, DIV in Spark)
    "q58_domain_mix" -> {
      import graft.functions.PortableHash
      val budget = 100000L
      val weights = graft.operators.Curation.domainWeights
      val sumW = weights.map(_._2).sum
      val valuesList = weights.map { case (src, w) => s"('$src', $w)" }
        .mkString(", ")
      s"""WITH w(source, w) AS (VALUES $valuesList),
         |d AS (SELECT doc_id, source,
         |    CAST(len([t for t in string_split_regex(text, '\\s+') if len(t) > 0]) AS BIGINT) AS n_tokens,
         |    ${PortableHash.h60Sql("text")} % 1000000 AS hmod
         |  FROM documents),
         |r AS (SELECT d.source,
         |    ((($budget::BIGINT * w) // $sumW) * 1000000) // CAST(SUM(n_tokens) AS BIGINT) AS rate_ppm
         |  FROM d JOIN w USING (source) GROUP BY d.source, w.w)
         |SELECT doc_id, d.source, n_tokens,
         |  CAST(rate_ppm // 1000000 +
         |    CASE WHEN hmod < rate_ppm % 1000000 THEN 1 ELSE 0 END AS BIGINT) AS n_epochs
         |FROM d JOIN r USING (source) ORDER BY doc_id""".stripMargin
    },
    // q59: the end-to-end funnel — dedup drop set from the SAME clustering
    // CTEs as q48/q49, contamination from the SAME 13-gram CTE shape as
    // q56, quality/split thresholds mirrored literally
    "q59_funnel" -> {
      s"""WITH RECURSIVE $curationFlagCtes
         |SELECT * FROM (
         |  SELECT 1 AS stage_idx, 'all' AS stage, COUNT(*) AS n_docs,
         |    COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) AS n_tokens FROM f
         |  UNION ALL SELECT 2, 'quality', COUNT(*),
         |    COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM f WHERE pq
         |  UNION ALL SELECT 3, 'dedup', COUNT(*),
         |    COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM f WHERE pq AND kept
         |  UNION ALL SELECT 4, 'train_clean', COUNT(*),
         |    COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM f WHERE pq AND kept AND clean
         |) ORDER BY stage_idx""".stripMargin
    },
    // q60: the oracle re-derives the SAME deterministic bottom-k-by-hash
    // sample (rank by h60 of the value's string form) and the same integer
    // index-quantiles — bit-exact, unlike approx_percentile internals
    "q60_len_quantiles" -> {
      import graft.functions.PortableHash
      val k = 64
      s"""WITH dv AS (SELECT DISTINCT lang, n_chars AS v FROM documents),
         |hh AS (SELECT lang, v, ${PortableHash.h60Sql("CAST(v AS VARCHAR)")} AS h FROM dv),
         |o AS (SELECT lang, v,
         |    row_number() OVER (PARTITION BY lang ORDER BY h, v) AS hrk FROM hh),
         |sm AS (SELECT lang, v FROM o WHERE hrk <= $k),
         |r AS (SELECT lang, v,
         |    row_number() OVER (PARTITION BY lang ORDER BY v) - 1 AS vrk,
         |    COUNT(*) OVER (PARTITION BY lang) AS m FROM sm)
         |SELECT lang,
         |  MAX(CASE WHEN vrk = ((m - 1) * 50) // 100 THEN v END) AS p50,
         |  MAX(CASE WHEN vrk = ((m - 1) * 90) // 100 THEN v END) AS p90,
         |  MAX(CASE WHEN vrk = ((m - 1) * 99) // 100 THEN v END) AS p99
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin
    },
    // q61: DuckDB's native ASOF JOIN is the oracle for the union-sort
    // as-of construction; the right side is pre-reduced to one row per
    // (user, ts) so the winner is data-determined in both engines
    // µs domain on both sides: DuckDB scans the NANOS parquet at µs, the
    // engine divides its nano longs by 1000 — same resolution, same joins
    "q61_asof_click" ->
      """WITH c AS (SELECT user_id, ts, MAX(value) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  epoch_us(c.ts) AS click_ts_us, c.click_value
        |FROM events e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
        |ORDER BY event_id""".stripMargin,
    // q62: q59's survivor set fed into q53's packing chain — the fully
    // curated corpus layout, replayed end-to-end by the oracle
    "q62_curated_packed" -> {
      val budget = 2048; val shard = graft.operators.Corpus.PackShardDocs
      val binsPerShard = graft.operators.Corpus.PackBinsPerShard
      s"""WITH RECURSIVE $curationFlagCtes,
         |surv AS (SELECT doc_id FROM f WHERE pq AND kept AND clean),
         |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |    doc_id // $shard AS shard FROM toks
         |  WHERE doc_id IN (SELECT doc_id FROM surv)),
         |c AS (SELECT doc_id, n_tokens, shard,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum_before
         |  FROM n)
         |SELECT doc_id, n_tokens,
         |  shard * ${binsPerShard}::BIGINT + cum_before // $budget AS bin,
         |  cum_before % $budget AS bin_offset
         |FROM c ORDER BY doc_id""".stripMargin
    },
    // q63: plain join + group-by — hash-proves the salted join is
    // semantics-neutral (the q50 argument, applied to the join)
    "q63_salted_join" ->
      """SELECT p_type, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_type ORDER BY p_type""".stripMargin,
    // q64: the query-terms VALUES table mirrors
    // TextQueries.RetrievalQueries verbatim; per-(query, doc) totals sum
    // DECIMAL(18,6) so the rounded double is order-independent in both
    // engines
    "q64_bm25_retrieval" -> {
      val qtRows = graft.operators.TextQueries.RetrievalQueries
        .map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }.mkString(", ")
      s"""WITH $toksCte,
         |tt AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
         |  FROM tt GROUP BY 1, 2),
         |dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(len(t)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_len
         |  FROM toks),
         |sc AS (SELECT doc_id, term, round(
         |    (tf * (1.2 + 1.0) /
         |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avg_len))) *
         |    ((n_docs - df + 0.5) / (df + 0.5)), 6) AS score
         |  FROM tf JOIN dft USING (term) CROSS JOIN st),
         |qt(query_id, term) AS (VALUES $qtRows),
         |hits AS (SELECT query_id, doc_id,
         |    round(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE), 6) AS score,
         |    CAST(COUNT(*) AS BIGINT) AS terms_hit
         |  FROM sc JOIN qt USING (term) GROUP BY 1, 2)
         |SELECT query_id, rk, doc_id, score, terms_hit FROM (
         |  SELECT query_id, doc_id, score, terms_hit,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rk
         |  FROM hits)
         |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
    },
    // q65: identical per-vector int8 quantization (max-abs scale, round
    // half away from zero — the shared convention of both engines'
    // double round) and exact integer dot/norm arithmetic; the only
    // floating-point steps are the final divide and the 6-decimal round
    "q65_ann_quantized" ->
      """WITH eq AS (SELECT vec_id,
        |    list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS m,
        |    CASE WHEN list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) = 0
        |      THEN [CAST(0 AS INT) for x in embedding]
        |      ELSE [CAST(round(CAST(x AS DOUBLE) / list_max([abs(CAST(y AS DOUBLE)) for y in embedding]) * 127) AS INT) for x in embedding]
        |    END AS q
        |  FROM embeddings),
        |en AS (SELECT vec_id, q,
        |    CAST(list_sum([CAST(x AS BIGINT) * CAST(x AS BIGINT) for x in q]) AS BIGINT) AS n2
        |  FROM eq),
        |qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM en WHERE vec_id < 5),
        |s AS (SELECT qid, e.vec_id AS nid, round(
        |    CASE WHEN qn2 = 0 OR e.n2 = 0 THEN -2.0
        |      ELSE CAST(CAST(list_sum([CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT)
        |          for z in list_zip(qq, e.q)]) AS BIGINT) AS DOUBLE) /
        |        (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE)))
        |    END, 6) AS qsim
        |  FROM en e, qs WHERE e.vec_id <> qid)
        |SELECT qid, nid, qsim FROM (
        |  SELECT qid, nid, qsim,
        |    row_number() OVER (PARTITION BY qid ORDER BY qsim DESC, nid) AS rn FROM s)
        |WHERE rn <= 10 ORDER BY qid, nid""".stripMargin,
    // q66: lift = p(ab)/(p(a)p(b)) — exp-PMI kept in exactly-rounded
    // mul/div (ln() can drift an ulp between libm implementations);
    // parallel unnest zips the two token slices into adjacent pairs
    "q66_bigram_lift" ->
      s"""WITH $toksCte,
         |uni AS (SELECT unnest(t) AS w FROM toks),
         |uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM uni GROUP BY 1),
         |t1 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t1 FROM uni),
         |bgr AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
         |  FROM toks WHERE len(t) >= 2),
         |t2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t2 FROM bgr),
         |bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
         |  FROM bgr GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         |SELECT w1, w2, n_ab, round((CAST(n_ab AS DOUBLE) / t2) /
         |    ((CAST(a.n_w AS DOUBLE) / t1) * (CAST(b.n_w AS DOUBLE) / t1)), 6) AS lift
         |FROM bg JOIN uc a ON a.w = w1 JOIN uc b ON b.w = w2
         |CROSS JOIN t1 CROSS JOIN t2
         |ORDER BY w1, w2""".stripMargin,
    // q67: reference = even doc_ids, incoming = odd; near-dup pairs come
    // from the SAME banded-minhash basis as q17/q48 (minhashPairCtes),
    // filtered to cross-parity; exact = q25's token-stream fingerprint
    "q67_incremental_dedup" ->
      s"""WITH $minhashPairCtes,
         |jp AS (SELECT id_a, id_b FROM shr
         |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
         |x AS (SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id,
         |    CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END AS ref_id
         |  FROM jp WHERE (id_a % 2) <> (id_b % 2)),
         |nr AS (SELECT doc_id, MIN(ref_id) AS dup_of FROM x GROUP BY 1),
         |fp AS (SELECT doc_id,
         |    md5(array_to_string([t for t in string_split_regex(lower(text), '[^a-z0-9]+') if len(t) > 0], ' ')) AS f
         |  FROM documents),
         |ex AS (SELECT i.doc_id, MIN(r.doc_id) AS dup_of
         |  FROM fp i JOIN fp r ON i.f = r.f AND r.doc_id % 2 = 0
         |  WHERE i.doc_id % 2 = 1 GROUP BY 1)
         |SELECT doc_id, dup_of, 'exact' AS reason FROM ex
         |UNION ALL
         |SELECT doc_id, dup_of, 'near' AS reason FROM nr
         |WHERE doc_id NOT IN (SELECT doc_id FROM ex)
         |ORDER BY doc_id""".stripMargin,
    "q68_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS dy FROM events),
        |fs AS (SELECT user_id, MIN(dy) AS cohort_day FROM act GROUP BY 1),
        |sz AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM fs GROUP BY 1),
        |r AS (SELECT cohort_day,
        |    CAST(date_diff('day', CAST(cohort_day AS DATE), CAST(dy AS DATE)) AS BIGINT) AS day_offset,
        |    CAST(COUNT(*) AS BIGINT) AS active_users
        |  FROM act JOIN fs USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, active_users,
        |  round(CAST(active_users AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6) AS retention
        |FROM r JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // q69: the same correlated-subquery text the engine runs (integer-cents
    // cross-multiplied comparison — no AVG/division rounding to drift)
    "q69_premium_parts" ->
      """SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS premium_ct
        |FROM part p
        |WHERE CAST(round(p.p_retailprice * 100) AS BIGINT) * 100 *
        |      (SELECT COUNT(*) FROM part p2 WHERE p2.p_brand = p.p_brand)
        |    > 105 * (SELECT SUM(CAST(round(p3.p_retailprice * 100) AS BIGINT))
        |            FROM part p3 WHERE p3.p_brand = p.p_brand)
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin,
    // q70: DuckDB plans the raw containment predicate natively (IEJoin) —
    // the engine side reaches the same rows through the binned equi-join
    "q70_range_join" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000000000 AS sec FROM events),
        |w AS (SELECT user_id AS window_id, MIN(sec) AS w_start,
        |    MIN(sec) + 7200 AS w_end
        |  FROM e WHERE user_id < 20 GROUP BY 1)
        |SELECT window_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM w JOIN e ON e.sec >= w_start AND e.sec < w_end
        |GROUP BY 1 ORDER BY window_id""".stripMargin,
    // q71: identical islands construction (lag-flag -> running sum ->
    // per-run reduce -> lead over the reduced history); timestamps pinned
    // to integer MICROSECONDS (DuckDB reads the nanos column at us
    // resolution — the q61 portability boundary)
    "q71_scd2_history" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ns, event_id,
        |    event_type AS status FROM events),
        |r AS (SELECT user_id, ns, event_id, status,
        |    CASE WHEN lag(status) OVER w IS NULL
        |         OR lag(status) OVER w <> status THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ns, event_id)),
        |runs AS (SELECT user_id, ns, status,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ns, event_id
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM r),
        |hist AS (SELECT user_id, run_id, MIN(status) AS status,
        |    MIN(ns) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM runs GROUP BY 1, 2)
        |SELECT user_id, status, valid_from,
        |  lead(valid_from) OVER wo AS valid_to, n_events,
        |  (lead(valid_from) OVER wo IS NULL) AS is_current
        |FROM hist
        |WINDOW wo AS (PARTITION BY user_id ORDER BY valid_from, run_id)
        |ORDER BY user_id, valid_from, status""".stripMargin,
    // q72: the q71 islands construction restricted to the signup/error
    // change stream, then DuckDB's native ASOF LEFT JOIN of purchases
    // against the version intervals — the point-in-time twin of the
    // engine's union-sort as-of (q61's proven oracle pattern). arg_max by
    // run_id collapses same-µs version ties identically on both sides.
    "q72_pit_enrich" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |    event_type, value FROM events),
        |ch AS (SELECT user_id, us, event_id, event_type AS status FROM e
        |  WHERE event_type IN ('signup', 'error')),
        |r AS (SELECT user_id, us, event_id, status,
        |    CASE WHEN lag(status) OVER w IS NULL
        |         OR lag(status) OVER w <> status THEN 1 ELSE 0 END AS chg
        |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |runs AS (SELECT user_id, us, status,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM r),
        |hist0 AS (SELECT user_id, run_id, MIN(status) AS status,
        |    MIN(us) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM runs GROUP BY 1, 2),
        |hist AS (SELECT user_id, valid_from,
        |    arg_max(status, run_id) AS status,
        |    arg_max(n_events, run_id) AS n_events
        |  FROM hist0 GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, us, value FROM e
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.us AS ts_us, p.value,
        |  h.valid_from AS state_from, h.status AS state,
        |  h.n_events AS state_events
        |FROM p ASOF LEFT JOIN hist h
        |  ON p.user_id = h.user_id AND p.us >= h.valid_from
        |ORDER BY event_id""".stripMargin,
    // q73: identical classification (lag/lead over the distinct activity
    // frame, integer date+1 arithmetic) and identical FULL OUTER day
    // spine; churn is clipped to the observation window via the same
    // single-row MAX frame
    "q73_growth_quad" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, d, lag(d) OVER w AS prev, lead(d) OVER w AS next
        |  FROM act WINDOW w AS (PARTITION BY user_id ORDER BY d)),
        |cls AS (SELECT strftime(d, '%Y-%m-%d') AS dy,
        |    CAST(COUNT(*) AS BIGINT) AS n_active,
        |    CAST(COUNT(CASE WHEN prev IS NULL THEN 1 END) AS BIGINT) AS n_new,
        |    CAST(COUNT(CASE WHEN prev = d - 1 THEN 1 END) AS BIGINT) AS n_retained,
        |    CAST(COUNT(CASE WHEN prev IS NOT NULL AND prev < d - 1 THEN 1 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM c GROUP BY 1),
        |mx AS (SELECT MAX(d) AS max_d FROM act),
        |ch AS (SELECT strftime(d + 1, '%Y-%m-%d') AS dy,
        |    CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM c CROSS JOIN mx
        |  WHERE (next IS NULL OR next > d + 1) AND d + 1 <= max_d
        |  GROUP BY 1)
        |SELECT dy, COALESCE(n_active, 0) AS n_active,
        |  COALESCE(n_new, 0) AS n_new,
        |  COALESCE(n_retained, 0) AS n_retained,
        |  COALESCE(n_resurrected, 0) AS n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned
        |FROM cls FULL OUTER JOIN ch USING (dy)
        |ORDER BY dy""".stripMargin,
    // q74: the q30 islands construction (strict-gap rule == Spark's
    // session_window merge) extended with per-session pv, dwell duration,
    // and bounce flag
    "q74_session_stats" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000000000 AS sec,
        |    event_type FROM events),
        |o AS (SELECT user_id, sec, event_type,
        |    CASE WHEN lag(sec) OVER w IS NULL
        |         OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
        |s AS (SELECT user_id, sec, event_type,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(sec) AS session_start, COUNT(*) AS n_events,
        |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS pv,
        |  MAX(sec) - MIN(sec) AS duration_sec,
        |  (COUNT(*) = 1) AS is_bounce
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // q75: identical first-touch sequential-min construction (each step
    // the earliest qualifying event strictly after the previous step);
    // FALSE-not-NULL window flags via `IS NOT NULL AND` on both sides
    "q75_funnel_paths" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, t1, MIN(us) AS t2 FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND us > t1 GROUP BY 1, 2),
        |t3 AS (SELECT e.user_id, t2.t1, t2.t2, MIN(us) AS t3
        |  FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2 GROUP BY 1, 2, 3)
        |SELECT t1.user_id, t1.t1, t2.t2, t3.t3,
        |  (t2.t2 IS NOT NULL AND t2.t2 - t1.t1 <= 86400000000) AS s2_in_window,
        |  (t3.t3 IS NOT NULL AND t3.t3 - t1.t1 <= 86400000000) AS converted
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |ORDER BY t1.user_id""".stripMargin,
    // q76: one row per profiled numeric column — min/max are raw values
    // (no arithmetic to drift), distinct counts exact
    "q76_profile" ->
      Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount").map(c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(CASE WHEN $c IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_val,
           |  CAST(MAX($c) AS DOUBLE) AS max_val FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    // q77: orphan FKs per relation via NOT IN against the parent key set
    "q77_integrity" ->
      Seq(("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"))
        .map { case (rel, f, fk, p, pk) =>
          s"""SELECT '$rel' AS relation, CAST(COUNT(*) AS BIGINT) AS n_orphans,
             |  CAST(COUNT(DISTINCT $fk) AS BIGINT) AS n_orphan_keys
             |FROM $f WHERE $fk IS NOT NULL
             |  AND $fk NOT IN (SELECT $pk FROM $p)""".stripMargin }
        .mkString("", "\nUNION ALL\n", "\nORDER BY relation"),
    // q78: q68's cohort firsts joined to q75's funnel construction —
    // identical day-string MIN and the same sequential-min CTEs
    "q78_cohort_conv" ->
      """WITH fs AS (SELECT user_id, MIN(strftime(ts, '%Y-%m-%d')) AS cohort_day
        |  FROM events GROUP BY 1),
        |e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, t1, MIN(us) AS t2 FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND us > t1 GROUP BY 1, 2),
        |t3 AS (SELECT e.user_id, t2.t1, t2.t2, MIN(us) AS t3
        |  FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2 GROUP BY 1, 2, 3),
        |conv AS (SELECT t1.user_id, TRUE AS in_funnel,
        |    (t3.t3 IS NOT NULL AND t3.t3 - t1.t1 <= 86400000000) AS converted
        |  FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id))
        |SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(COUNT(CASE WHEN in_funnel THEN 1 END) AS BIGINT) AS n_in_funnel,
        |  CAST(COUNT(CASE WHEN converted THEN 1 END) AS BIGINT) AS n_converted,
        |  round(CAST(COUNT(CASE WHEN converted THEN 1 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 6) AS conv_rate
        |FROM fs LEFT JOIN conv USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q79: q75's funnel frame unpivoted to per-transition durations, then
    // the q60 deterministic bottom-k-by-hash quantile convention (the
    // oracle re-derives the SAME sample from the SAME h60 constants)
    "q79_funnel_durs" -> {
      import graft.functions.PortableHash
      val k = 64
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
         |t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
         |  WHERE event_type = 'view' GROUP BY 1),
         |t2 AS (SELECT e.user_id, t1, MIN(us) AS t2 FROM e JOIN t1 USING (user_id)
         |  WHERE event_type = 'click' AND us > t1 GROUP BY 1, 2),
         |t3 AS (SELECT e.user_id, t2.t1, t2.t2, MIN(us) AS t3
         |  FROM e JOIN t2 USING (user_id)
         |  WHERE event_type = 'purchase' AND us > t2 GROUP BY 1, 2, 3),
         |f AS (SELECT t1.user_id, t1.t1, t2.t2, t3.t3,
         |    (t2.t2 IS NOT NULL AND t2.t2 - t1.t1 <= 86400000000) AS s2w,
         |    (t3.t3 IS NOT NULL AND t3.t3 - t1.t1 <= 86400000000) AS conv
         |  FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)),
         |d AS (SELECT step, dur FROM (
         |    SELECT 'view_to_click' AS step,
         |      CASE WHEN s2w THEN t2 - t1 END AS dur FROM f
         |    UNION ALL SELECT 'click_to_purchase',
         |      CASE WHEN conv THEN t3 - t2 END FROM f
         |    UNION ALL SELECT 'view_to_purchase',
         |      CASE WHEN conv THEN t3 - t1 END FROM f)
         |  WHERE dur IS NOT NULL),
         |n AS (SELECT step, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
         |dv AS (SELECT DISTINCT step, dur AS v FROM d),
         |hh AS (SELECT step, v, ${PortableHash.h60Sql("CAST(v AS VARCHAR)")} AS h FROM dv),
         |o AS (SELECT step, v,
         |    row_number() OVER (PARTITION BY step ORDER BY h, v) AS hrk FROM hh),
         |sm AS (SELECT step, v FROM o WHERE hrk <= $k),
         |r AS (SELECT step, v,
         |    row_number() OVER (PARTITION BY step ORDER BY v) - 1 AS vrk,
         |    COUNT(*) OVER (PARTITION BY step) AS m FROM sm)
         |SELECT step, n_obs,
         |  MAX(CASE WHEN vrk = ((m - 1) * 50) // 100 THEN v END) AS p50_us,
         |  MAX(CASE WHEN vrk = ((m - 1) * 90) // 100 THEN v END) AS p90_us,
         |  MAX(CASE WHEN vrk = ((m - 1) * 99) // 100 THEN v END) AS p99_us
         |FROM r JOIN n USING (step) GROUP BY 1, 2 ORDER BY step""".stripMargin
    },
    // q80: the q71 islands construction with Maxwell-style tombstones —
    // 'error' rows are deletes: chg never increments on a tombstone, a
    // tombstone's MIN(us) closes its run, head-of-stream tombstones
    // (runs with no live rows) drop as no-ops
    "q80_scd2_cdc" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE WHEN event_type <> 'error' THEN event_type END AS status,
        |    CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |r AS (SELECT user_id, us, event_id, status, op,
        |    CASE WHEN op = 'd' THEN 0
        |         WHEN lag(op) OVER w IS NULL OR lag(op) OVER w = 'd'
        |           OR lag(status) OVER w <> status THEN 1 ELSE 0 END AS chg
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |runs AS (SELECT user_id, us, status, op,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM r),
        |hist AS (SELECT user_id, run_id,
        |    MIN(CASE WHEN op = 'u' THEN status END) AS status,
        |    MIN(CASE WHEN op = 'u' THEN us END) AS valid_from,
        |    CAST(COUNT(CASE WHEN op = 'u' THEN 1 END) AS BIGINT) AS n_events,
        |    MIN(CASE WHEN op = 'd' THEN us END) AS del_at
        |  FROM runs GROUP BY 1, 2 HAVING n_events > 0)
        |SELECT user_id, status, valid_from,
        |  COALESCE(del_at, lead(valid_from) OVER wo) AS valid_to, n_events,
        |  (COALESCE(del_at, lead(valid_from) OVER wo) IS NULL) AS is_current
        |FROM hist
        |WINDOW wo AS (PARTITION BY user_id ORDER BY valid_from, run_id)
        |ORDER BY user_id, valid_from, status""".stripMargin,
    // q81: the q80 CDC history (view/click/signup states, 'error'
    // tombstones) joined by interval CONTAINMENT — the oracle twin of the
    // engine's as-of + tombstone-mask construction (non-overlapping
    // intervals make containment unique; a purchase inside a deletion gap
    // matches no version)
    "q81_pit_enrich_cdc" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |    event_type, value FROM events),
        |c AS (SELECT user_id, us, event_id,
        |    CASE WHEN event_type <> 'error' THEN event_type END AS status,
        |    CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM e WHERE event_type IN ('view', 'click', 'signup', 'error')),
        |r AS (SELECT user_id, us, event_id, status, op,
        |    CASE WHEN op = 'd' THEN 0
        |         WHEN lag(op) OVER w IS NULL OR lag(op) OVER w = 'd'
        |           OR lag(status) OVER w <> status THEN 1 ELSE 0 END AS chg
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |runs AS (SELECT user_id, us, status, op,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM r),
        |hist AS (SELECT user_id, run_id,
        |    MIN(CASE WHEN op = 'u' THEN status END) AS status,
        |    MIN(CASE WHEN op = 'u' THEN us END) AS valid_from,
        |    CAST(COUNT(CASE WHEN op = 'u' THEN 1 END) AS BIGINT) AS n_events,
        |    MIN(CASE WHEN op = 'd' THEN us END) AS del_at
        |  FROM runs GROUP BY 1, 2 HAVING n_events > 0),
        |v AS (SELECT user_id, status, valid_from, n_events,
        |    COALESCE(del_at, lead(valid_from) OVER wo) AS valid_to
        |  FROM hist
        |  WINDOW wo AS (PARTITION BY user_id ORDER BY valid_from, run_id)),
        |p AS (SELECT event_id, user_id, us, value FROM e
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.us AS ts_us, p.value,
        |  v.valid_from AS state_from, v.status AS state,
        |  v.n_events AS state_events
        |FROM p LEFT JOIN v ON p.user_id = v.user_id
        |  AND v.valid_from <= p.us
        |  AND (v.valid_to IS NULL OR p.us < v.valid_to)
        |ORDER BY p.event_id""".stripMargin,
    // q82: the q80 CDC intervals integrated per status — open versions
    // capped at the stream's max event time, tombstone-closed ones end at
    // the delete; all arithmetic integer µs
    "q82_status_dwell" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE WHEN event_type <> 'error' THEN event_type END AS status,
        |    CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |r AS (SELECT user_id, us, event_id, status, op,
        |    CASE WHEN op = 'd' THEN 0
        |         WHEN lag(op) OVER w IS NULL OR lag(op) OVER w = 'd'
        |           OR lag(status) OVER w <> status THEN 1 ELSE 0 END AS chg
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |runs AS (SELECT user_id, us, status, op,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM r),
        |hist AS (SELECT user_id, run_id,
        |    MIN(CASE WHEN op = 'u' THEN status END) AS status,
        |    MIN(CASE WHEN op = 'u' THEN us END) AS valid_from,
        |    CAST(COUNT(CASE WHEN op = 'u' THEN 1 END) AS BIGINT) AS n_events,
        |    MIN(CASE WHEN op = 'd' THEN us END) AS del_at
        |  FROM runs GROUP BY 1, 2 HAVING n_events > 0),
        |v AS (SELECT user_id, status, valid_from,
        |    COALESCE(del_at, lead(valid_from) OVER wo) AS valid_to
        |  FROM hist
        |  WINDOW wo AS (PARTITION BY user_id ORDER BY valid_from, run_id)),
        |cap AS (SELECT MAX(epoch_us(ts)) AS cap_us FROM events)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_versions,
        |  CAST(SUM(COALESCE(valid_to, cap_us) - valid_from) AS BIGINT)
        |    AS total_dwell_us,
        |  CAST(COUNT(CASE WHEN valid_to IS NULL THEN 1 END) AS BIGINT)
        |    AS n_open
        |FROM v CROSS JOIN cap
        |GROUP BY status ORDER BY status""".stripMargin,
    // q83: RANGE frame over the integer day index (gap-correct trailing
    // week); day string via the q78-proven MIN(strftime) convention
    "q83_rolling_daily" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day_num, ts,
        |    user_id FROM events),
        |d AS (SELECT day_num, MIN(strftime(ts, '%Y-%m-%d')) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_actives
        |  FROM e GROUP BY 1)
        |SELECT day, n_events, n_actives,
        |  CAST(SUM(n_events) OVER wr AS BIGINT) AS r7_events,
        |  CAST(COUNT(*) OVER wr AS BIGINT) AS r7_days
        |FROM d
        |WINDOW wr AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING
        |  AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    // q84: pivot re-expressed as conditional aggregation (the portable
    // relational form of an explicit-value-list pivot)
    "q84_pivot_daily" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day,
         |${types.map(t =>
            s"  CAST(COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS $t")
            .mkString(",\n")},
         |  CAST(COUNT(*) AS BIGINT) AS total
         |FROM events GROUP BY 1 ORDER BY day""".stripMargin
    },
    // q85: GROUP BY ROLLUP with the same bit convention for GROUPING()
    // (1 = dimension aggregated away; returnflag is the high bit)
    "q85_rollup_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    // q86: each event belongs to exactly len/slide = 2 hopping windows —
    // the two 30-min-aligned starts at and before its slide bucket
    "q86_sliding_stats" ->
      """WITH e AS (SELECT epoch_ns(ts)//1000000000 AS sec, event_type,
        |    value FROM events),
        |x AS (SELECT ((sec // 1800) * 1800 - off) AS win_start, event_type,
        |    value
        |  FROM e CROSS JOIN (SELECT UNNEST([0, 1800]) AS off))
        |SELECT win_start, event_type, COUNT(*) AS pv_ct,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q87: identical lag over (us, event_id); '_start' sorts before the
    // real event types so the matrix hash is order-stable
    "q87_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events),
        |p AS (SELECT COALESCE(lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id), '_start')
        |      AS prev, event_type AS next
        |  FROM e),
        |m AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2),
        |o AS (SELECT prev, SUM(n) AS out_n FROM m GROUP BY 1)
        |SELECT prev, next, n,
        |  round(CAST(n AS DOUBLE) / CAST(out_n AS DOUBLE), 6) AS p
        |FROM m JOIN o USING (prev) ORDER BY prev, next""".stripMargin,
    // q88: log2 bucket via LENGTH(bin(x)) - 1 (pure integer/string ops,
    // no floating log); gap 0 ms pinned to bucket -1
    "q88_gap_histogram" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
        |  FROM events),
        |g AS (SELECT (us - lag(us) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id)) // 1000
        |      AS gap_ms FROM e),
        |b AS (SELECT CASE WHEN gap_ms = 0 THEN -1
        |      ELSE LENGTH(bin(gap_ms)) - 1 END AS bucket, gap_ms
        |  FROM g WHERE gap_ms IS NOT NULL)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(gap_ms) AS min_ms, MAX(gap_ms) AS max_ms
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // q89: NTILE with a doc_id tiebreak so the bucket assignment is
    // data-determined in both engines (standard SQL extras-first rule)
    "q89_lang_deciles" ->
      """WITH d AS (SELECT lang, n_chars,
        |    ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |      AS decile
        |  FROM documents)
        |SELECT lang, CAST(decile AS BIGINT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q90: same snapshot derivation, same h60 constants, FULL OUTER join
    "q90_corpus_diff" -> {
      import graft.functions.PortableHash
      s"""WITH d AS (SELECT doc_id, text, doc_id % 100 AS m FROM documents),
         |prev AS (SELECT doc_id, ${PortableHash.h60Sql("text")} AS h_old
         |  FROM d WHERE m < 90),
         |next AS (SELECT doc_id, ${PortableHash.h60Sql(
            "CASE WHEN m BETWEEN 40 AND 49 THEN text || ' rev2' ELSE text END")}
         |    AS h_new
         |  FROM d WHERE m >= 10),
         |j AS (SELECT doc_id,
         |    CASE WHEN h_old IS NULL THEN 'added'
         |         WHEN h_new IS NULL THEN 'removed'
         |         WHEN h_old <> h_new THEN 'changed'
         |         ELSE 'unchanged' END AS change_class
         |  FROM prev FULL OUTER JOIN next USING (doc_id))
         |SELECT change_class, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // q91: q16's shingle construction, counted by doc frequency; the
    // (df DESC, shingle) tiebreak makes the LIMIT deterministic
    "q91_boilerplate" ->
      """WITH toks AS (SELECT doc_id,
        |    [t for t in string_split_regex(lower(text), '[^a-z0-9]+') if len(t) > 0] AS t
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS shingle
        |  FROM toks WHERE len(t) >= 3)),
        |df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS doc_freq
        |  FROM sh GROUP BY 1)
        |SELECT shingle, doc_freq FROM df WHERE doc_freq >= 20
        |ORDER BY doc_freq DESC, shingle LIMIT 100""".stripMargin,
    // q92: q78's cohort CTEs x q79's deterministic quantile machinery,
    // partitioned by (cohort_day, step)
    "q92_cohort_durs" -> {
      import graft.functions.PortableHash
      val k = 64
      s"""WITH fs AS (SELECT user_id, MIN(strftime(ts, '%Y-%m-%d')) AS cohort_day
         |  FROM events GROUP BY 1),
         |e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
         |t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
         |  WHERE event_type = 'view' GROUP BY 1),
         |t2 AS (SELECT e.user_id, t1, MIN(us) AS t2 FROM e JOIN t1 USING (user_id)
         |  WHERE event_type = 'click' AND us > t1 GROUP BY 1, 2),
         |t3 AS (SELECT e.user_id, t2.t1, t2.t2, MIN(us) AS t3
         |  FROM e JOIN t2 USING (user_id)
         |  WHERE event_type = 'purchase' AND us > t2 GROUP BY 1, 2, 3),
         |f AS (SELECT t1.user_id, t1.t1, t2.t2, t3.t3,
         |    (t2.t2 IS NOT NULL AND t2.t2 - t1.t1 <= 86400000000) AS s2w,
         |    (t3.t3 IS NOT NULL AND t3.t3 - t1.t1 <= 86400000000) AS conv
         |  FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)),
         |d AS (SELECT cohort_day, step, dur FROM (
         |    SELECT user_id, 'view_to_click' AS step,
         |      CASE WHEN s2w THEN t2 - t1 END AS dur FROM f
         |    UNION ALL SELECT user_id, 'click_to_purchase',
         |      CASE WHEN conv THEN t3 - t2 END FROM f
         |    UNION ALL SELECT user_id, 'view_to_purchase',
         |      CASE WHEN conv THEN t3 - t1 END FROM f) u
         |  JOIN fs USING (user_id) WHERE dur IS NOT NULL),
         |n AS (SELECT cohort_day, step, CAST(COUNT(*) AS BIGINT) AS n_obs
         |  FROM d GROUP BY 1, 2),
         |dv AS (SELECT DISTINCT cohort_day, step, dur AS v FROM d),
         |hh AS (SELECT cohort_day, step, v,
         |    ${PortableHash.h60Sql("CAST(v AS VARCHAR)")} AS h FROM dv),
         |o AS (SELECT cohort_day, step, v, row_number() OVER
         |    (PARTITION BY cohort_day, step ORDER BY h, v) AS hrk FROM hh),
         |sm AS (SELECT cohort_day, step, v FROM o WHERE hrk <= $k),
         |r AS (SELECT cohort_day, step, v, row_number() OVER
         |    (PARTITION BY cohort_day, step ORDER BY v) - 1 AS vrk,
         |    COUNT(*) OVER (PARTITION BY cohort_day, step) AS m FROM sm)
         |SELECT cohort_day, step, n_obs,
         |  MAX(CASE WHEN vrk = ((m - 1) * 50) // 100 THEN v END) AS p50_us,
         |  MAX(CASE WHEN vrk = ((m - 1) * 90) // 100 THEN v END) AS p90_us,
         |  MAX(CASE WHEN vrk = ((m - 1) * 99) // 100 THEN v END) AS p99_us
         |FROM r JOIN n USING (cohort_day, step) GROUP BY 1, 2, 3
         |ORDER BY cohort_day, step""".stripMargin
    },
    // q93: DuckDB's native ASOF join against the arg_max-reduced touch
    // table — q61's tie rule (right row at the purchase's own µs wins),
    // the 72 h lookback applied after the match
    "q93_attribution" ->
      """WITH t AS (SELECT user_id, ts, arg_max(event_type, event_id) AS touch_type
        |  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT p.ts, p.value, t.ts AS touch_ts, t.touch_type
        |  FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.ts >= t.ts)
        |SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CASE WHEN touch_ts IS NOT NULL
        |         AND epoch_us(ts) - epoch_us(touch_ts) <= 259200000000
        |       THEN touch_type ELSE 'organic' END AS channel,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q94: the same shift-mask interleave, generated by the shared
    // ZOrder.zValueSql constants — grid scaling, bucketing, and spans all
    // in exact integer arithmetic
    "q94_zorder_layout" ->
      s"""WITH st AS (SELECT MAX(l_partkey) AS pa, MAX(l_suppkey) AS sa FROM lineitem),
         |n AS (SELECT l_partkey, l_suppkey,
         |    (CAST(l_partkey AS BIGINT) * 65536) // (pa + 1) AS an,
         |    (CAST(l_suppkey AS BIGINT) * 65536) // (sa + 1) AS bn
         |  FROM lineitem, st)
         |SELECT ${graft.functions.ZOrder.zValueSql("an", "bn")} >> 24 AS z_bucket,
         |  COUNT(*) AS n_rows,
         |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
         |  MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
         |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    // q95: GROUP BY CUBE, same GROUPING() bit convention as q85's rollup
    "q95_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, o_year,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority, o_year) AS BIGINT) AS gid,
        |  COUNT(*) AS order_ct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM (SELECT o_orderstatus, o_orderpriority,
        |        year(o_orderdate) AS o_year, o_totalprice FROM orders)
        |GROUP BY CUBE (o_orderstatus, o_orderpriority, o_year)
        |ORDER BY gid, o_orderstatus, o_orderpriority, o_year""".stripMargin,
    // q96-q97, q102: time-series repair / calendar family — oracle SQL
    // lives next to the Scala in operators/Series.scala
    "q96_gap_fill"       -> graft.operators.Series.gapFillSql,
    "q97_interval_merge" -> graft.operators.Series.intervalMergeSql,
    // q98-q99: co-purchase graph family (operators/Graph.scala)
    "q98_basket_pairs"   -> graft.operators.Graph.basketPairsSql,
    "q99_triangles"      -> graft.operators.Graph.triangleCountsSql,
    // q100: theta-composed KMV set overlap (operators/Overlap.scala)
    "q100_overlap"       -> graft.operators.Overlap.audienceOverlapSql(),
    // q101: banded edit-distance near-dups (operators/Dedup.scala)
    "q101_fuzzy_dups"    -> Dedup.fuzzyHeadPairsSql(),
    "q102_mom_yoy"       -> graft.operators.Series.monthlyDeltasSql,
    // q103-q105: statistical curation/report family (operators/Stats.scala)
    "q103_weighted_sample" -> graft.operators.Stats.weightedSampleSql,
    "q104_outlier_audit" -> graft.operators.Stats.outlierAuditSql,
    "q105_revenue_share" -> graft.operators.Stats.revenueShareSql,
    "q106_fanout_audit"  -> graft.operators.Stats.fanoutAuditSql,
    "q107_top_concat"    -> graft.operators.Stats.topPartsConcatSql,
    "q108_cum_reach"     -> graft.operators.Stats.cumulativeReachSql,
    "q109_set_ops"       -> graft.operators.Stats.yearCohortSetOpsSql,
    "q110_benford"       -> graft.operators.Stats.benfordAuditSql,
    "q111_vocab_growth"  -> TextQueries.vocabGrowthSql,
    "q112_pagerank"      -> graft.operators.Graph.pagerankSql(),
    "q113_no_click"      -> RefQueries.noClickPurchasesSql,
    "q114_anomaly_days"  -> graft.operators.Series.anomalyDaysSql,
    "q115_phrase_search" -> TextQueries.phraseSearchSql(),
    "q116_heavy_hitters" -> graft.operators.Stats.heavyHittersSql(),
    // q117: connected components via converged label propagation
    "q117_components"    -> graft.operators.Graph.connectedComponentsSql,
    // q118/q120: distributed exact-rank family (operators/Ranks.scala)
    "q118_equidepth"     -> graft.operators.Ranks.equiDepthHistogramSql(),
    "q119_skyline"       -> graft.operators.Stats.skylineSql,
    "q120_robust_outliers" -> graft.operators.Ranks.robustOutliersSql,
    "q121_session_paths" -> RefQueries.sessionPathsSql(),
    "q122_bfs_distance"  -> graft.operators.Graph.bfsDistancesSql,
    "q123_spearman"      -> graft.operators.Ranks.spearmanBrandsSql,
    "q124_change_points" -> graft.operators.Series.changePointsSql(),
    "q125_postings"      -> TextQueries.postingsIndexSql(),
    "q126_weighted_median" -> graft.operators.Ranks.weightedMedianSql,
    "q127_concentration" -> graft.operators.Ranks.revenueConcentrationSql,
    "q128_ann_pq" -> {
      // mirrors pqTopK: per-subspace codebooks via the q31 deterministic
      // Lloyd protocol (assign by round(cosine,6) with cid tiebreak,
      // decimal-exact member means), ADC scores as exact integer
      // micro-unit sums so the aggregate is order-free in both engines
      val (m, sub, cb, nq, k) = (4, 16, 16, 5, 10)
      def dotSql(a: String, b: String): String =
        s"list_sum([CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) for z in list_zip($a, $b)])"
      def assignCte(out: String, bin: String): String =
        s"""$out AS (SELECT vec_id, ss, cid FROM (
           |  SELECT s.vec_id, s.ss, b.cid,
           |    row_number() OVER (PARTITION BY s.vec_id, s.ss
           |      ORDER BY ${cosSql("s.sv", "b.ce")} DESC, b.cid) AS rn
           |  FROM sv s JOIN $bin b ON b.ss = s.ss) WHERE rn = 1)""".stripMargin
      def lloydCte(r: Int, ain: String, bout: String): String =
        s"""m$r AS (SELECT a.ss, a.cid, t.generate_series AS pos,
           |    CAST(CAST(SUM(CAST(s.sv[t.generate_series] AS DECIMAL(27,7))) AS DOUBLE)
           |      / COUNT(*) AS FLOAT) AS comp
           |  FROM $ain a JOIN sv s ON s.vec_id = a.vec_id AND s.ss = a.ss,
           |    generate_series(1, $sub) t GROUP BY 1, 2, 3),
           |$bout AS (SELECT ss, cid, list(comp ORDER BY pos) AS ce
           |  FROM m$r GROUP BY 1, 2)""".stripMargin
      s"""WITH sv AS (SELECT vec_id, t.gs AS ss,
         |    embedding[t.gs * $sub + 1 : (t.gs + 1) * $sub] AS sv
         |  FROM embeddings, generate_series(0, ${m - 1}) t(gs)),
         |b0 AS (SELECT ss, vec_id AS cid, sv AS ce FROM sv
         |  WHERE vec_id < $cb),
         |${assignCte("a1", "b0")},
         |${lloydCte(1, "a1", "b1")},
         |${assignCte("a2", "b1")},
         |${lloydCte(2, "a2", "b2")},
         |${assignCte("codes", "b2")},
         |qt AS (SELECT s.vec_id AS qid, s.ss, b.cid,
         |    CAST(round(round(${dotSql("s.sv", "b.ce")}, 6) * 1000000, 0)
         |      AS BIGINT) AS d_micro
         |  FROM sv s JOIN b2 b ON b.ss = s.ss WHERE s.vec_id < $nq),
         |sc AS (SELECT q.qid, c.vec_id AS nid,
         |    CAST(SUM(q.d_micro) AS BIGINT) AS adc_micro
         |  FROM codes c JOIN qt q ON q.ss = c.ss AND q.cid = c.cid
         |  WHERE c.vec_id <> q.qid GROUP BY 1, 2)
         |SELECT qid, nid, adc_micro FROM (
         |  SELECT qid, nid, adc_micro, row_number() OVER (PARTITION BY qid
         |    ORDER BY adc_micro DESC, nid) AS rn FROM sc)
         |WHERE rn <= $k ORDER BY qid, nid""".stripMargin
    },
    "q129_ann_ivfpq" -> {
      // the two proven protocols composed: q31's coarse inverted file
      // (c-prefixed CTEs) prunes candidates, q128's PQ codes (p-prefixed)
      // score them via exact integer ADC
      val dims = 64
      val (m, sub, cb, nq, k, nProbe) = (4, 16, 16, 5, 10, 2)
      def dotSql(a: String, b: String): String =
        s"list_sum([CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) for z in list_zip($a, $b)])"
      def coarseAssignCte(out: String, cin: String): String =
        s"""$out AS (SELECT vec_id, embedding, cid FROM (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
           |  FROM embeddings e, $cin c) WHERE rn = 1)""".stripMargin
      def coarseLloydCte(r: Int, ain: String, cout: String): String =
        s"""cm$r AS (SELECT cid, t.generate_series AS pos,
           |    CAST(CAST(SUM(CAST(embedding[t.generate_series] AS DECIMAL(27,7))) AS DOUBLE)
           |      / COUNT(*) AS FLOAT) AS comp
           |  FROM $ain, generate_series(1, $dims) t GROUP BY 1, 2),
           |$cout AS (SELECT cid, list(comp ORDER BY pos) AS ce
           |  FROM cm$r GROUP BY cid)""".stripMargin
      def pqAssignCte(out: String, bin: String): String =
        s"""$out AS (SELECT vec_id, ss, cid FROM (
           |  SELECT s.vec_id, s.ss, b.cid,
           |    row_number() OVER (PARTITION BY s.vec_id, s.ss
           |      ORDER BY ${cosSql("s.sv", "b.ce")} DESC, b.cid) AS rn
           |  FROM psv s JOIN $bin b ON b.ss = s.ss) WHERE rn = 1)""".stripMargin
      def pqLloydCte(r: Int, ain: String, bout: String): String =
        s"""pm$r AS (SELECT a.ss, a.cid, t.generate_series AS pos,
           |    CAST(CAST(SUM(CAST(s.sv[t.generate_series] AS DECIMAL(27,7))) AS DOUBLE)
           |      / COUNT(*) AS FLOAT) AS comp
           |  FROM $ain a JOIN psv s ON s.vec_id = a.vec_id AND s.ss = a.ss,
           |    generate_series(1, $sub) t GROUP BY 1, 2, 3),
           |$bout AS (SELECT ss, cid, list(comp ORDER BY pos) AS ce
           |  FROM pm$r GROUP BY 1, 2)""".stripMargin
      s"""WITH cc0 AS (SELECT vec_id AS cid, embedding AS ce
         |  FROM embeddings WHERE vec_id < $cb),
         |${coarseAssignCte("ca1", "cc0")},
         |${coarseLloydCte(1, "ca1", "cc1")},
         |${coarseAssignCte("ca2", "cc1")},
         |${coarseLloydCte(2, "ca2", "cc2")},
         |${coarseAssignCte("casg", "cc2")},
         |cprobes AS (SELECT qid, cid FROM (
         |  SELECT q.vec_id AS qid, c.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.embedding", "c.ce")} DESC, c.cid) AS rn
         |  FROM embeddings q, cc2 c WHERE q.vec_id < $nq)
         |  WHERE rn <= $nProbe),
         |psv AS (SELECT vec_id, t.gs AS ss,
         |    embedding[t.gs * $sub + 1 : (t.gs + 1) * $sub] AS sv
         |  FROM embeddings, generate_series(0, ${m - 1}) t(gs)),
         |pb0 AS (SELECT ss, vec_id AS cid, sv AS ce FROM psv
         |  WHERE vec_id < $cb),
         |${pqAssignCte("pa1", "pb0")},
         |${pqLloydCte(1, "pa1", "pb1")},
         |${pqAssignCte("pa2", "pb1")},
         |${pqLloydCte(2, "pa2", "pb2")},
         |${pqAssignCte("pcodes", "pb2")},
         |qt AS (SELECT s.vec_id AS qid, s.ss, b.cid,
         |    CAST(round(round(${dotSql("s.sv", "b.ce")}, 6) * 1000000, 0)
         |      AS BIGINT) AS d_micro
         |  FROM psv s JOIN pb2 b ON b.ss = s.ss WHERE s.vec_id < $nq),
         |cand AS (SELECT p.qid, a.vec_id FROM casg a
         |  JOIN cprobes p ON a.cid = p.cid WHERE a.vec_id <> p.qid),
         |sc AS (SELECT c.qid, c.vec_id AS nid,
         |    CAST(SUM(q.d_micro) AS BIGINT) AS adc_micro
         |  FROM cand c
         |  JOIN pcodes pc ON pc.vec_id = c.vec_id
         |  JOIN qt q ON q.qid = c.qid AND q.ss = pc.ss AND q.cid = pc.cid
         |  GROUP BY 1, 2)
         |SELECT qid, nid, adc_micro FROM (
         |  SELECT qid, nid, adc_micro, row_number() OVER (PARTITION BY qid
         |    ORDER BY adc_micro DESC, nid) AS rn FROM sc)
         |WHERE rn <= $k ORDER BY qid, nid""".stripMargin
    },
    // q131: prefix-filtered exact set-similarity join; the oracle is the
    // BRUTE-FORCE inverted-index join — prefix filtering is lossless
    "q131_ppjoin" -> Dedup.ppjoinPairsSql,
    // q132: HLL registers + integer-exact raw estimate (operators/Hll.scala)
    "q132_hll_uv" -> graft.operators.Hll.distinctUsersSql,
    // q133: BPE merge-table learning, loop unrolled the q112 way
    "q133_bpe_merges" -> TextQueries.bpeMergesSql(),
    // q134: exact-integer chi-square independence screen
    "q134_chi_square" -> graft.operators.Stats.chiSquareSql,
    // q135: bloom semi-join reduction audit (operators/Bloom.scala)
    "q135_bloom_join" -> graft.operators.Bloom.bloomJoinAuditSql,
    // q136: count-min frequency sketch audit (operators/CountMin.scala)
    "q136_cms_freq" -> graft.operators.CountMin.tokenFreqAuditSql(),
    // q137: hilbert-vs-morton scan-range fragmentation (functions/Hilbert.scala)
    "q137_hilbert_runs" -> graft.functions.Hilbert.curveRunsAuditSql,
    // q138: merkle bucket-digest anti-entropy diff (operators/Curation.scala)
    "q138_digest_diff" -> graft.operators.Curation.digestDiffSql(),
    // q139: exact-integer two-sample KS drift test (operators/Stats.scala)
    "q139_ks_drift" -> graft.operators.Stats.ksDriftSql,
    // q140 lives in oracleSql (composes base protocols, the q130 way)
    // q141: boilerplate strip + reconstruction (operators/TextQueries.scala)
    "q141_boilerplate_strip" -> TextQueries.boilerplateStripSql(),
    // q142: Apriori frequent triples; oracle is the brute-force enumeration
    "q142_freq_triples" -> graft.operators.Graph.frequentTriplesSql,
    // q143: count-min inner-product join-size estimate (operators/CountMin.scala)
    "q143_join_size_est" -> graft.operators.CountMin.joinSizeEstimateSql,
    // q146: random-projection retrieval recall (operators/Similarity.scala)
    "q146_ann_rp" -> Similarity.rpRecallSql(),
    // q148: BPE encode — q133's learned merges applied to the vocabulary
    "q148_bpe_encode" -> TextQueries.bpeEncodeSql(),
    // q149: k-anonymity generalization ladder (operators/Stats.scala)
    "q149_k_anonymity" -> graft.operators.Stats.kAnonymityAuditSql(),
    // q150: split-balance chi-square audit over the q47 hash split
    "q150_split_balance" -> graft.operators.Stats.splitBalanceAuditSql,
    // q151: first-seen n-gram novelty (operators/TextQueries.scala)
    "q151_gram_novelty" -> TextQueries.gramNoveltySql,
    // q153: personalized PageRank, rounds unrolled (operators/Graph.scala)
    "q153_ppr" -> graft.operators.Graph.personalizedPagerankSql(),
    // q154: windowed co-occurrence counts (operators/TextQueries.scala)
    "q154_cooccurrence" -> TextQueries.cooccurrenceSql(),
    // q156: per-language percentile normalization
    "q156_pct_normalize" -> TextQueries.percentileNormalizeSql,
    // q157: directed shingle-containment pairs (operators/Dedup.scala)
    "q157_containment" -> Dedup.containmentPairsSql(),
    // q158: distinct-n lexical diversity (operators/TextQueries.scala)
    "q158_distinct_n" -> TextQueries.distinctNSql,
    // q159: deterministic epoch shuffle (operators/TextQueries.scala)
    "q159_epoch_shuffle" -> TextQueries.epochShuffleSql(),
    // q160: curriculum ordering — q156 levels x q159 in-level shuffle
    "q160_curriculum" -> TextQueries.curriculumOrderSql(),
    // q161-q163: layout family — packing, HRW sharding, batching waste
    "q161_sequence_pack" -> Layout.sequencePackSql(),
    "q162_shard_assign" -> Layout.shardAssignSql(),
    "q163_batch_waste" -> Layout.lengthBatchingWasteSql(),
    // q164: df-thresholded positional-gram coverage per doc
    "q164_dup_coverage" -> TextQueries.dupGramCoverageSql(),
    // q166: Cohen's kappa between two integer-exact quality rules
    "q166_filter_kappa" -> graft.operators.Stats.filterAgreementSql,
    "q167_zipf_buckets" -> TextQueries.zipfBucketsSql,
    "q168_surprisal" -> TextQueries.unigramSurprisalSql,
    "q169_centroid_drift" -> Similarity.labelCentroidDriftSql,
    "q171_temperature_mix" -> graft.operators.Curation.temperatureMixSql,
    // q172: cross-doc duplicated-span run structure (Lee et al. policy input)
    "q172_dup_spans" -> TextQueries.dupSpansSql(),
    // q173: embedding-space test-set leakage (semantic decontamination)
    "q173_semantic_decontam" -> Similarity.semanticDecontamSql(),
    // q174: long-duplicated-span removal (the q172 APPLY pass)
    "q174_span_strip" -> TextQueries.spanStripSql(),
    // q175: per-language fertility of the en-trained BPE tokenizer
    "q175_tokenizer_fertility" -> TextQueries.tokenizerFertilitySql(),
    // q176: kNN label-agreement audit (label-noise detection)
    "q176_knn_label_audit" -> Similarity.knnLabelAuditSql(),
    // q177: token-budget-constrained quality-ranked corpus selection
    "q177_token_budget" -> graft.operators.Curation.tokenBudgetSelectSql(),
    // q178: fixed-stride chunk inventory + chunk-level dedup stats
    "q178_chunk_dedup" -> TextQueries.chunkDedupSql(),
    // q179: cross-source exact-fingerprint duplication matrix
    "q179_source_overlap" -> graft.operators.Curation.sourceOverlapSql,
    // q181: per-rule quality-filter attrition with unique-fail attribution
    "q181_rule_attrition" -> graft.operators.Curation.ruleAttritionSql,
    // q182: DSIR hashed-bigram importance-resampling selection
    "q182_dsir" -> graft.operators.Curation.dsirSelectSql(),
    // q183: held-out bigram LM cross-entropy on the q47 hash split
    "q183_heldout_xent" -> TextQueries.heldoutBigramXentSql,
    // q184: add-one multinomial NB source classifier confusion matrix
    "q184_nb_confusion" -> graft.operators.Curation.nbConfusionSql,
    // q185: k-means cluster balance + label purity (q31's Lloyd audit)
    "q185_cluster_purity" -> Similarity.clusterPuritySql(),
    // q186: filtered vector search, pre- vs post-filter recall audit
    "q186_ann_filtered" -> Similarity.filteredTopKSql(),
    // q187: cross-doc attention contamination in q161's packed windows
    "q187_pack_contamination" ->
      graft.operators.Layout.packContaminationSql(),
    // q188: CCNet head/middle/tail perplexity buckets off the q183 LM
    "q188_ppl_buckets" -> TextQueries.pplBucketsSql,
    // q193: q187's contamination audit swept over candidate ctxLens
    "q193_ctx_sweep" -> graft.operators.Layout.ctxLenSweepSql(),
    // q194: q56 vs q170 flag agreement, q166's integer-kappa convention
    "q194_decontam_kappa" ->
      graft.operators.Curation.decontamAgreementSql,
    // q190: NB decision-margin calibration deciles over the q184 grid
    "q190_nb_calibration" -> graft.operators.Curation.nbMarginCalibSql,
    // q191: per-label centroid-distance outliers (the review queue)
    "q191_label_outliers" -> Similarity.labelOutliersSql(),
    // q192: dup×quality contingency — the q188 per-doc chain joined
    // against the q48 recursive clustering's drop set, lift in ppm
    "q192_dup_quality_lift" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |jp AS (SELECT id_a, id_b FROM shr
         |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
         |sym AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         |reach AS (
         |  SELECT DISTINCT id_a AS id, id_a AS label FROM sym
         |  UNION
         |  SELECT s.id_a AS id, r.label FROM sym s JOIN reach r ON s.id_b = r.id),
         |drp AS (SELECT id FROM reach GROUP BY id HAVING MIN(label) <> id),
         |${graft.operators.TextQueries.pplPerDocCtes},
         |pb AS (SELECT doc_id, CASE WHEN rnk * 3 <= n_all THEN 'head'
         |    WHEN rnk * 3 <= 2 * n_all THEN 'middle' ELSE 'tail' END AS bucket
         |  FROM (SELECT doc_id, xent_nn,
         |    row_number() OVER (ORDER BY xent_nn, doc_id) AS rnk,
         |    COUNT(*) OVER () AS n_all FROM ppr)),
         |dd AS (SELECT pb.bucket,
         |    CASE WHEN drp.id IS NULL THEN 0 ELSE 1 END AS dup
         |  FROM pb LEFT JOIN drp ON drp.id = pb.doc_id),
         |ctg AS (SELECT bucket, CAST(dup AS BIGINT) AS dup,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs FROM dd GROUP BY 1, 2),
         |rt AS (SELECT bucket, CAST(SUM(n_docs) AS BIGINT) AS rn FROM ctg
         |  GROUP BY 1),
         |cl2 AS (SELECT dup, CAST(SUM(n_docs) AS BIGINT) AS cn FROM ctg
         |  GROUP BY 1),
         |tt2 AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM ctg)
         |SELECT ctg.bucket, ctg.dup, ctg.n_docs,
         |  CAST(((ctg.n_docs * 1000000 // rt.rn) * tt2.t) // cl2.cn
         |    AS BIGINT) AS lift_ppm
         |FROM ctg JOIN rt USING (bucket) JOIN cl2 USING (dup) CROSS JOIN tt2
         |ORDER BY 1, 2""".stripMargin,
    // q189: transitive-chaining audit of the q48 clusters — exact
    // Jaccard over sampled within-cluster pairs, on the shared
    // minhash CTE basis (eh/cnt) plus the q48 recursive reach
    "q189_cluster_chaining" -> clusterChainingOracleSql(32),
    // q170: winnow-fingerprint decontamination (q43's scheme x q47 split)
    "q170_winnow_decontam" -> {
      import graft.functions.PortableHash
      s"""WITH $toksCte,
         |g AS (SELECT doc_id, unnest(generate_series(1, len(t) - 2)) AS pos,
         |    unnest([${PortableHash.h60Sql("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}
         |      for i in generate_series(1, len(t) - 2)]) AS h
         |  FROM toks WHERE len(t) >= 3),
         |m AS (SELECT doc_id, pos,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
         |    COUNT(*) OVER (PARTITION BY doc_id) AS n
         |  FROM g),
         |fp AS (SELECT DISTINCT doc_id, mh AS fp FROM m WHERE pos + 3 <= n),
         |b AS (SELECT doc_id,
         |    (${PortableHash.h60Sql("text")}) % 100 AS bucket
         |  FROM documents),
         |f2 AS (SELECT fp.doc_id, fp.fp, b.bucket FROM fp
         |  JOIN b ON b.doc_id = fp.doc_id),
         |tst AS (SELECT DISTINCT fp FROM f2 WHERE bucket >= 90),
         |p AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_fp,
         |    CAST(SUM(CASE WHEN fp IN (SELECT fp FROM tst)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM f2 WHERE bucket < 90 GROUP BY 1, 2)
         |SELECT doc_id,
         |  CASE WHEN bucket < 80 THEN 'train' ELSE 'val' END AS split,
         |  n_fp, n_hits, n_hits * 1000000 // n_fp AS hit_ppm
         |FROM p WHERE n_hits >= 2 ORDER BY doc_id""".stripMargin
    },
    // q155: dataset card — every number rides an already-proven protocol
    // (q48 clusters, q44 PII regexes, exact-dup md5 grouping)
    "q155_dataset_card" -> {
      import graft.operators.TextQueries.{EmailRe, PhoneRe, UrlRe}
      s"""WITH RECURSIVE $minhashPairCtes,
         |jp AS (SELECT id_a, id_b FROM shr
         |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
         |sym AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         |reach AS (
         |  SELECT DISTINCT id_a AS id, id_a AS label FROM sym
         |  UNION
         |  SELECT s.id_a AS id, r.label FROM sym s JOIN reach r ON s.id_b = r.id),
         |cl AS (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS clustered
         |  FROM reach),
         |tkn AS (SELECT CAST(SUM(len([t for t in string_split_regex(
         |    lower(text), '[^a-z0-9]+') if len(t) > 0])) AS BIGINT) AS nt
         |  FROM documents),
         |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS nch,
         |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl,
         |    CAST(COUNT(DISTINCT source) AS BIGINT) AS ns
         |  FROM documents),
         |ed AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS exact_dup
         |  FROM (SELECT COUNT(*) AS c FROM documents GROUP BY md5(text)
         |        HAVING COUNT(*) > 1)),
         |pii AS (SELECT CAST(COUNT(*) AS BIGINT) AS pii_docs FROM documents
         |  WHERE len(regexp_extract_all(text, '$EmailRe'))
         |    + len(regexp_extract_all(text, '$UrlRe'))
         |    + len(regexp_extract_all(text, '$PhoneRe')) > 0),
         |tl AS (SELECT CAST(MAX(c) AS BIGINT) AS top_lang FROM (
         |  SELECT COUNT(*) AS c FROM documents GROUP BY lang))
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
         |  UNION ALL SELECT 'n_tokens', nt FROM tkn
         |  UNION ALL SELECT 'n_chars', nch FROM base
         |  UNION ALL SELECT 'n_langs', nl FROM base
         |  UNION ALL SELECT 'n_sources', ns FROM base
         |  UNION ALL SELECT 'near_dup_docs', clustered FROM cl
         |  UNION ALL SELECT 'near_dup_ppm', clustered * 1000000 // n_docs
         |    FROM cl, base
         |  UNION ALL SELECT 'exact_dup_docs', exact_dup FROM ed
         |  UNION ALL SELECT 'pii_docs', pii_docs FROM pii
         |  UNION ALL SELECT 'pii_ppm', pii_docs * 1000000 // n_docs
         |    FROM pii, base
         |  UNION ALL SELECT 'top_lang_ppm', top_lang * 1000000 // n_docs
         |    FROM tl, base)
         |ORDER BY metric""".stripMargin
    },
    // q152: dedup-weighted effective size over the q48 cluster protocol
    "q165_dedup_keepers" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |jp AS (SELECT id_a, id_b FROM shr
         |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
         |sym AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         |reach AS (
         |  SELECT DISTINCT id_a AS id, id_a AS label FROM sym
         |  UNION
         |  SELECT s.id_a AS id, r.label FROM sym s JOIN reach r ON s.id_b = r.id),
         |cl AS (SELECT id AS doc_id, MIN(label) AS cluster FROM reach
         |  GROUP BY id),
         |q AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CASE WHEN len(toks) > 0 THEN
         |      CAST(len([x for x in toks if list_contains([
         |        'the','a','of','and','to','in','is','it','for','on',
         |        'der','die','das','und','ist','ein','zu','mit','von','nicht',
         |        'el','la','de','que','y','en','un','es','por','con',
         |        'le','et','est','une','dans','pour'], x)]) AS BIGINT)
         |        * 1000000 // CAST(len(toks) AS BIGINT)
         |      ELSE 0 END AS q_ppm
         |  FROM (SELECT doc_id,
         |    [t for t in string_split_regex(lower(text), '[^a-z0-9]+')
         |     if len(t) > 0] AS toks FROM documents)),
         |m AS (SELECT cl.cluster, q.doc_id, q.n_tokens, q.q_ppm,
         |    row_number() OVER (PARTITION BY cl.cluster
         |      ORDER BY q.q_ppm DESC, q.doc_id) AS rk
         |  FROM cl JOIN q USING (doc_id))
         |SELECT cluster,
         |  MIN(CASE WHEN rk = 1 THEN doc_id END) AS keeper_id,
         |  MIN(CASE WHEN rk = 1 THEN q_ppm END) AS keeper_q_ppm,
         |  CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(COUNT(*) - 1 AS BIGINT) AS dropped_docs,
         |  CAST(SUM(n_tokens) - MIN(CASE WHEN rk = 1 THEN n_tokens END)
         |    AS BIGINT) AS dropped_tokens
         |FROM m GROUP BY cluster ORDER BY cluster""".stripMargin,
    "q152_effective_size" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |jp AS (SELECT id_a, id_b FROM shr
         |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.3),
         |sym AS (SELECT id_a, id_b FROM jp UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM jp),
         |reach AS (
         |  SELECT DISTINCT id_a AS id, id_a AS label FROM sym
         |  UNION
         |  SELECT s.id_a AS id, r.label FROM sym s JOIN reach r ON s.id_b = r.id),
         |cl AS (SELECT id AS doc_id, MIN(label) AS cluster FROM reach
         |  GROUP BY id),
         |tk AS (SELECT doc_id,
         |    CAST(len([t for t in string_split_regex(lower(text),
         |      '[^a-z0-9]+') if len(t) > 0]) AS BIGINT) AS n_tokens
         |  FROM documents),
         |wc AS (SELECT n_tokens,
         |    COALESCE(cl.cluster, tk.doc_id) AS cluster
         |  FROM tk LEFT JOIN cl USING (doc_id)),
         |pc AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS csize,
         |    SUM(n_tokens) AS c_tokens
         |  FROM wc GROUP BY 1)
         |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(c_tokens) AS BIGINT) AS raw_tokens,
         |  CAST(SUM(c_tokens * 1000000 // csize) AS BIGINT)
         |    AS effective_micro
         |FROM pc GROUP BY 1 ORDER BY csize""".stripMargin,
    // q147: RRF hybrid retrieval — q46 top-terms + q64 scoring + q20
    // cosine ranks, fused with exact integer 1e9 div (60 + rank) credits
    "q147_hybrid_rrf" ->
      s"""WITH $toksCte,
         |tt AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
         |  FROM tt GROUP BY 1, 2),
         |dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(len(t)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_len
         |  FROM toks),
         |sc AS (SELECT doc_id, term, round(
         |    (tf * (1.2 + 1.0) /
         |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avg_len))) *
         |    ((n_docs - df + 0.5) / (df + 0.5)), 6) AS score
         |  FROM tf JOIN dft USING (term) CROSS JOIN st),
         |qterms AS (SELECT doc_id AS qid, term FROM (
         |  SELECT doc_id, term,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
         |  FROM sc WHERE doc_id < 5) WHERE rk <= 5),
         |th AS (SELECT q.qid, s.doc_id,
         |    round(CAST(SUM(CAST(s.score AS DECIMAL(18,6))) AS DOUBLE), 6) AS tscore
         |  FROM sc s JOIN qterms q USING (term) WHERE s.doc_id <> q.qid
         |  GROUP BY 1, 2),
         |tr AS (SELECT qid, doc_id, text_rk FROM (SELECT qid, doc_id,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY tscore DESC, doc_id) AS BIGINT) AS text_rk
         |  FROM th) WHERE text_rk <= 20),
         |vs AS (SELECT q.vec_id AS qid, e.vec_id AS doc_id,
         |    ${cosSql("q.embedding", "e.embedding")} AS sim
         |  FROM embeddings e, embeddings q
         |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
         |vr AS (SELECT qid, doc_id, vec_rk FROM (SELECT qid, doc_id,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rk
         |  FROM vs) WHERE vec_rk <= 20),
         |f AS (SELECT qid, doc_id,
         |    CAST(COALESCE(1000000000 // (60 + text_rk), 0) +
         |         COALESCE(1000000000 // (60 + vec_rk), 0) AS BIGINT)
         |      AS rrf_nano,
         |    text_rk, vec_rk
         |  FROM tr FULL JOIN vr USING (qid, doc_id))
         |SELECT qid, rrf_rk, doc_id, rrf_nano, text_rk, vec_rk FROM (
         |  SELECT qid, doc_id, rrf_nano, text_rk, vec_rk,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY rrf_nano DESC, doc_id) AS BIGINT) AS rrf_rk
         |  FROM f) WHERE rrf_rk <= 10 ORDER BY qid, rrf_rk""".stripMargin,
    // q145: SemDeDup — q31's unrolled deterministic Lloyd, then the
    // within-cell cosine-threshold pair pass with keep-lowest keepers
    "q145_semdedup" -> {
      val dims = 64
      def assignCte(out: String, cin: String): String =
        s"""$out AS (SELECT vec_id, embedding, cid FROM (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
           |  FROM embeddings e, $cin c) WHERE rn = 1)""".stripMargin
      def lloydCte(r: Int, ain: String, cout: String): String =
        s"""m$r AS (SELECT cid, t.generate_series AS pos,
           |    CAST(CAST(SUM(CAST(embedding[t.generate_series] AS DECIMAL(27,7))) AS DOUBLE)
           |      / COUNT(*) AS FLOAT) AS comp
           |  FROM $ain, generate_series(1, $dims) t GROUP BY 1, 2),
           |$cout AS (SELECT cid, list(comp ORDER BY pos) AS ce FROM m$r GROUP BY cid)""".stripMargin
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |${assignCte("a1", "c0")},
         |${lloydCte(1, "a1", "c1")},
         |${assignCte("a2", "c1")},
         |${lloydCte(2, "a2", "c2")},
         |${assignCte("asg", "c2")},
         |p AS MATERIALIZED (SELECT keep_id, vec_id, cid, sim FROM (
         |  SELECT a.vec_id AS keep_id, b.vec_id AS vec_id, a.cid,
         |    ${cosSql("a.embedding", "b.embedding")} AS sim
         |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |  WHERE sim >= 0.45),
         |r AS (SELECT vec_id, cid, MIN(keep_id) AS dup_of FROM p
         |  GROUP BY 1, 2)
         |SELECT r.vec_id, r.cid, r.dup_of, p.sim
         |FROM r JOIN p ON p.keep_id = r.dup_of AND p.vec_id = r.vec_id
         |ORDER BY r.vec_id""".stripMargin
    },
    // q144: U-shaped multi-touch attribution — integer-ppm credit split,
    // remainder to earliest middles; exact decimal micro-value
    "q144_multi_touch" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type,
        |    value FROM events),
        |p AS (SELECT event_id AS pid, user_id, us AS pus, value FROM e
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS tid, user_id, us AS tus,
        |    event_type AS touch_type FROM e
        |  WHERE event_type IN ('view', 'click')),
        |j AS (SELECT p.pid, p.value, t.tid, t.tus, t.touch_type
        |  FROM p LEFT JOIN t ON t.user_id = p.user_id
        |    AND t.tus <= p.pus AND t.tus > p.pus - 259200000000),
        |w AS (SELECT pid, value, tid, touch_type,
        |    CASE WHEN tid IS NOT NULL THEN CAST(ROW_NUMBER() OVER (
        |      PARTITION BY pid ORDER BY tus, tid) AS BIGINT) END AS pos,
        |    COUNT(tid) OVER (PARTITION BY pid) AS m
        |  FROM j),
        |c AS (SELECT pid, value, touch_type, pos, m,
        |    CASE WHEN m <= 1 THEN 1000000
        |         WHEN m = 2 THEN 500000
        |         WHEN pos = 1 OR pos = m THEN 400000
        |         ELSE 200000 // (m - 2) +
        |           (CASE WHEN pos - 1 <= 200000 % (m - 2) THEN 1 ELSE 0 END)
        |    END AS credit_ppm,
        |    CASE WHEN m = 0 THEN 'organic' WHEN m = 1 THEN 'only'
        |         WHEN pos = 1 THEN 'first' WHEN pos = m THEN 'last'
        |         ELSE 'middle' END AS position_class
        |  FROM w)
        |SELECT position_class, COALESCE(touch_type, 'none') AS touch_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_credits,
        |  CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * credit_ppm) AS DOUBLE)
        |    AS attributed_micro
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )

  // ---- sfx1 oracle-gate variants (VERDICT r13 #2) -----------------------
  // NOT part of the declared query surface: these exist so the synthetic
  // fourth decade can be ORACLE-gated for the four rows whose FULL DuckDB
  // twins are resource-bound at /tmp/sfx1 (q27/q42: the banded-candidate ×
  // embedding join exhausts the 100 GiB limit; q153/q189: the unrolled /
  // recursive CTE chains spill past the temp ceiling). Each gate variant
  // is the IDENTICAL engine pipeline under the q103 h60 slice discipline
  // (the q130/q140 precedent), with the slice pushed to the SAME place on
  // both sides, so the check stays a full rows+schema+hash compare:
  //  - q27: slice the pair space by id_a (pure output predicate on the
  //    engine side; the oracle pushes it into the candidate join's a-leg);
  //  - q42: the finder's own embSample corpus slice, queries always kept;
  //  - q153: the part-key slice at the incidence scan (basket fan-out
  //    shrinks ~quadratically, which is what the oracle needs);
  //  - q189: the doc slice at the tokenize source — clustering basis,
  //    sampling, and exact-Jaccard audit all run on the slice.
  // graft.Verify emits these INSTEAD of the main surface when
  // SPARK_GRAFT_GATE=1; they are hash-gated at sf0.01/sf0.1 first (the
  // driver-visible CORRECTNESS board is unchanged) to prove the variants
  // before they are trusted at sfx1.
  def gateQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    Map(
      "q27_embed_dups_slice" -> ((s, d) =>
        Dedup.embeddingDupPairsLsh(s, d)
          .filter(graft.functions.PortableHash
            .h60(col("id_a").cast("string")) < lit(4L << 55))),
      "q42_ann_lsh_banded_slice" -> ((s, d) =>
        Similarity.lshTopKMulti(s, d, sample = 4)),
      "q153_ppr_slice" -> ((s, d) =>
        graft.operators.Graph.personalizedPagerank(s, d, sample = 8)),
      "q189_cluster_chaining_slice" -> ((s, d) =>
        Dedup.clusterChaining(s, d, sample = 4)))
  }

  def gateOracleSql: Map[String, String] = Map(
    "q27_embed_dups_slice" -> embedDupsSliceSql(4),
    "q42_ann_lsh_banded_slice" -> annLshBandedSliceSql(4),
    "q153_ppr_slice" ->
      graft.operators.Graph.personalizedPagerankSql(sample = 8),
    "q189_cluster_chaining_slice" -> clusterChainingOracleSql(4))

  /** q27's oracle with the candidate a-leg restricted to the h60 id_a
    * slice — equivalent to filtering the full output on id_a (id_a is
    * always the candidate join's a side), but the predicate reaches the
    * band table BEFORE the join, which is what bounds the oracle's
    * candidate × embedding memory at sfx1. */
  private def embedDupsSliceSql(sliceA: Int): String = {
    import graft.functions.PortableHash
    val bucket = graft.plans.FloatVecLshBucket.bucketSql("embedding", 60)
    val h = PortableHash.h60Sql("CAST(a.vec_id AS VARCHAR)")
    s"""WITH e AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings),
       |p AS (SELECT COALESCE(MIN(r), 20) AS bpb
       |  FROM (SELECT unnest([4, 8, 12, 16, 20]) AS r),
       |       (SELECT COUNT(*) AS n FROM e)
       |  WHERE (1::BIGINT << r) * 128 >= n),
       |bnd AS (SELECT vec_id, band_id,
       |    (bucket >> (band_id * bpb)) & ((1::BIGINT << bpb) - 1) AS band_sig
       |  FROM e, p, (SELECT unnest(generate_series(0, 14)) AS band_id)
       |  WHERE band_id < 60 // bpb),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bnd a JOIN bnd b ON a.band_id = b.band_id
       |    AND a.band_sig = b.band_sig AND a.vec_id < b.vec_id
       |  WHERE ($h) < ${sliceA.toLong << 55}),
       |s AS (SELECT id_a, id_b, ${cosSql("ea.embedding", "eb.embedding")} AS sim
       |  FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
       |SELECT id_a, id_b, sim FROM s WHERE sim >= 0.45 ORDER BY id_a, id_b""".stripMargin
  }

  /** q42's oracle over the embSample corpus slice (queries always kept —
    * top-10 per query AMONG the sliced corpus, the finder's own `sample`
    * semantics). */
  private def annLshBandedSliceSql(sample: Int): String = {
    import graft.functions.PortableHash
    val bucket = graft.plans.FloatVecLshBucket.bucketSql("embedding", 60)
    val h = PortableHash.h60Sql("CAST(vec_id AS VARCHAR)")
    val bandList = (0 until 15).map(b => s"(bucket >> ${b * 4}) & 15").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding, ($bucket) AS bucket FROM embeddings
       |  WHERE vec_id < 5 OR ($h) < ${sample.toLong << 55}),
       |bnd AS (SELECT vec_id, unnest(generate_series(0, 14)) AS band_id,
       |  unnest([$bandList]) AS band_sig FROM e),
       |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |  FROM bnd c JOIN bnd q ON c.band_id = q.band_id AND c.band_sig = q.band_sig
       |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |s AS (SELECT qid, nid, ${cosSql("eq.embedding", "ec.embedding")} AS sim
       |  FROM cand JOIN e eq ON eq.vec_id = qid JOIN e ec ON ec.vec_id = nid)
       |SELECT qid, nid, sim FROM (
       |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
       |WHERE rn <= 10 ORDER BY qid, nid""".stripMargin
  }
}
