"""Operators: CDC dedup/fold, merge planning, point-in-time joins, and
training-data-pipeline operators (exact/near dedup, similarity search)."""

from sap_spark.operators.dedup import (
    drop_cancelled,
    lww_window,
    fold_changes,
    replay,
)
from sap_spark.operators.joins import asof_join, interval_join, range_join
from sap_spark.operators.packing import pack_sequences
from sap_spark.operators.sampling import split_train_eval, stratified_sample
from sap_spark.operators.snapshot import snapshot_diff
from sap_spark.operators.textdedup import (
    ann_brute_force,
    ann_ivf,
    ann_lsh,
    build_ann_index,
    build_ivf_index,
    dedup_embedding_cosine,
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
)

__all__ = [
    "drop_cancelled",
    "lww_window",
    "fold_changes",
    "replay",
    "asof_join",
    "range_join",
    "interval_join",
    "pack_sequences",
    "stratified_sample",
    "split_train_eval",
    "snapshot_diff",
    "ann_brute_force",
    "ann_ivf",
    "ann_lsh",
    "build_ann_index",
    "build_ivf_index",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
]
