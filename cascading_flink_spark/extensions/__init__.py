"""Beyond-parity extensions: the operations a large-scale training-data
pipeline needs (dedup, similarity search, text analysis, multimodal columns).

These are first-class engine components designed for the 100 TB path:
every operator here is expressed as native DataFrame transformations
(shuffle-conscious, broadcast-aware, no driver-side loops); Python appears
only in clearly-marked Arrow-batched UDF paths (multimodal decode).
"""

from .text import (
    token_count, token_budget, quality_features, quality_filter, lang_id,
    clean_text, clean_text_expr, compression_stats, fingerprint,
    redact_pii, gopher_quality, blocklist_stats,
    quality_classifier, default_bucket_weights, load_fasttext_weights,
    CLASSIFIER_FEATURES, DEFAULT_FEATURE_WEIGHTS,
    gopher_pass_expr, blocklist_hits_expr,
    c4_line_keep_expr, c4_rules,
)
from .curation import curate_corpus
from .packing import chunk_corpus, overlap_chunks, pack_bins
from .dedup import (
    dedup_against, dup_rate_report, dup_spans, dup_substring_spans,
    gram_novelty, dedup_soft_weights,
    edit_dup_pairs,
    exact_dedup, exact_dedup_pairs, ngram_containment_pairs,
    ngram_jaccard_pairs, minhash_lsh_pairs, simhash_bits, simhash_dup_pairs,
    simhash_md5_pairs, dedup_clusters, dedup_keep_best, paragraph_dedup,
    strip_boilerplate, strip_dup_spans, strip_dup_substrings,
    winnow_fingerprints, winnow_pairs,
)
from .similarity import (
    cosine_expr, brute_force_topk, embedding_dup_pairs, group_centroids,
    hash_embed,
    lsh_bucketed_topk,
    lsh_bucketed_topk_md5, ivf_topk, ivf_topk_md5,
    hard_negatives,
    kcenter_select,
    cluster_silhouette,
    kmeans, kmeans_assign, kmeans_md5, margin_candidates, margin_mine,
    mmr_select,
    mrr_at_k, ndcg_at_k, precision_at_k, recall_at_k,
    pq_topk, pq_topk_md5,
    random_project, rbo_at_k, rrf_fuse, semdedup_pairs, semdedup_pairs_md5, sq_minmax,
    sq_quantize, sq_topk,
)
from .multimodal import (
    MEDIA_SCHEMA, MULTIMODAL_SCHEMA, attach_binary_meta, audio_dups,
    audio_envelope_hash, decode_media, decode_stub_features, frame_sample,
    hamming_pairs, image_dhash, image_dups, resize_images, video_dups,
    video_frame_hashes,
)
from .skew import (salted_agg, salted_broadcast_left, sample_k_per_group,
                   stratified_sample)
from .mixture import (curriculum_shards, domain_quota, global_rank,
                      grouped_rank,
                      group_split, quantile_normalize, shuffle_shard,
                      token_budget_mixture,
                      temperature_budgets, temperature_mixture,
                      upsample_mixture,
                      weighted_sample)
from .bpe import bpe_encode, bpe_train, encode_word
from .temporal import asof_join, range_join
from .urls import (normalize_url_expr, normalize_urls, url_dedup,
                   url_domain_expr)
from .decontam import (contamination_pairs, contamination_spans,
                       decontaminate,
                       decontaminate_bloom, build_bloom_bitmap,
                       bloom_might_contain, strip_spans_against)
from .dsir import (dsir_bucket_weights, dsir_mixture_select, dsir_sample,
                   dsir_score_expr, dsir_select, dsir_weight_array,
                   dsir_weights)
from .graph import (bfs_distances, clustering_coefficient,
                    connected_components, degree_assortativity,
                    eccentricity_sample,
                    harmonic_centrality_sample,
                    hits, k_core,
                    label_propagation, link_candidates, pagerank,
                    triangle_count)
from .corpus import (bigram_lm_scores, bm25_multi_scores, bm25_scores,
                     corpus_drift,
                     corpus_report,
                     inverted_index,
                     ngram_counts, oov_stats, repetition_stats,
                     tfidf_topterms, unigram_commonness,
                     readability_report,
                     vocab_overlap, zipf_slope)
from .analytics import (average_precision,
                        calibration_report, calibration_summary,
                        cohen_kappa,
                        cardinality_report, chi2_drift,
                        classifier_auc,
                        concentration_report, confusion_report,
                        cohort_retention,
                        diversity_report, drift_series, fleiss_kappa,
                        js_divergence, krippendorff_alpha,
                        event_funnel, group_quantiles,
                        ks_statistic, mean_confidence,
                        psi_drift, rate_confidence,
                        robust_spread,
                        label_agreement, pr_threshold_stats,
                        group_quantiles_binned, heavy_hitters, hot_keys,
                        rolling_stats, session_funnel, session_stats,
                        session_transitions,
                        sessionize, signal_corr, trimmed_stats,
                        value_histogram, wasserstein_distance)

__all__ = [n for n in dir() if not n.startswith("_")]
