"""Beyond-reference operators for large-scale training-data pipelines:
deduplication, similarity search, text analysis, data selection
(splits/sampling/decontamination/mixture), multimodal columns.
These reuse the same DataFrame-first design rules as the graph engine:
built-in expressions over UDFs, one shuffle per logical exchange,
broadcast/bucket joins where a side is small."""

from .dedup import (
    dedup_corpus,
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    near_dup_clusters,
    pairs_to_clusters,
    ngram_jaccard_pairs,
    normalize_text,
    portable_hash60,
    simhash,
    simhash_near_pairs,
)
from .similarity import (
    ann_recall,
    brute_force_topk,
    cosine,
    embedding_near_duplicates,
    ivf_topk,
    kmeans_assign,
    kmeans_centroids,
    lsh_topk,
    quantize_embeddings,
    seed_centroids,
    semdedup,
)
from .text import (
    bpe_token_count,
    chunk_documents,
    corpus_stats,
    fingerprint,
    lang_id,
    quality_features,
    quality_filter,
    repetition_features,
    scrub_text,
    tfidf_top_terms,
    token_count,
    token_histogram,
    unigram_logprob,
)
from .sampling import (
    decontaminate,
    duplicate_ngrams,
    expand_repeats,
    mixture_repeats,
    pack_sequences,
    scrub_duplicate_ngrams,
    stratified_sample,
    train_val_split,
    word_ngrams,
)
from .bpe import bpe_encode, train_bpe
from .crawl import crawl_rounds, schedule_frontier
from .datacard import data_card
from .export import pack_sequence_spans, write_training_shards
from .audiohash import audio_fingerprint, audio_near_duplicates
from .videohash import video_fingerprint, video_near_duplicates
from .imagehash import banded_hamming_pairs, dhash_near_duplicates, image_dhash
from .media_privacy import (
    strip_jpeg_metadata,
    strip_media_metadata,
    strip_png_metadata,
)
from .lm import bigram_logprob
from .urls import (
    cap_per_host,
    crawl_delays,
    dedup_by_url,
    domain_authority,
    filter_blocked_domains,
    host_graph,
    idna_host,
    normalize_url,
    registered_domain,
    registered_domain_psl,
    surt_key,
    url_features,
    url_host,
    url_parts,
    url_wordlist_score,
)
from .pii import pii_features, pii_rate, redact_pii
from .paragraphs import (
    dedup_paragraphs,
    duplicate_paragraph_stats,
    split_paragraphs,
)
from .classifier import (
    QualityClassifier,
    score_quality_classifier,
    train_quality_classifier,
)
from .multimodal import (
    decode_metadata,
    frame_sample_plan,
    media_from_docs,
    resize_plan,
    set_decoder,
    synthetic_media,
)
