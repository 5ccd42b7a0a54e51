"""The one registry for shared derived relations, per Spark session.

A materialized relation is a lazily cached DataFrame registered as a temp
view under its name: the local stand-in for the stage table a cluster run
writes once and every consumer reads. Entries are stamped with the
session's input epoch and the caller's preset key, so a swapped corpus or
preset can never serve a stale relation. ``.cache()`` stores at
``spark.sql.defaultCacheStorageLevel`` (MEMORY_AND_DISK by default), so a
corpus-scale relation spills instead of assuming it fits in memory.

The epoch moves when ``relational.register_views`` registers a new table
dir and on ``textkit.ensure_documents_tok(force=True)`` (a ``documents``
view replaced by hand). Build map, as name [key]: build (owner). Builds
read other entries by view name; each owner ensures its inputs first.

  documents_tok [()]        documents + token arrays + 60-bit token hashes
                            (textkit.ensure_documents_tok)
  csh3_mat [()]             distinct 3-gram shingle arrays
                            (textkit.ensure_csh3)
  sigs_mat [(n_minhash,)]   MinHash signatures (textkit.ensure_minhash_sigs)
  pairs_mat [(n_minhash,)]  banded LSH candidate pairs over sigs_mat
                            (textkit.ensure_lsh_pairs)
  cc_mat [()]               connected-component labels over the LSH pairs
                            (textkit.ensure_cc_mat)
  simhash_mat [()]          60-bit simhash per doc
                            (textkit.prepare_textkit_views)
  tok_mat [()]              exploded distinct 4-gram shingles (same)
  tokcap_mat [(cap,)]       tok_mat minus shingles above the df cap (same)
  cf_mat, rep_mat, cont_mat, keepl_mat, spl_mat [()]
                            the corpus_filter, repetition_stats,
                            contamination_check, dedup_keep_list and
                            sample_split gate outputs
                            (textkit.materialize_curation_stages)
  vecs_mat [(n_planes,)]    embeddings + LSH bucket + norm
                            (ann.ensure_ann_vecs)
  vecs2_mat [(n_planes,)]   embeddings + two-table LSH buckets + norm (same)
  ivf_vecs [()]             embeddings + quantized vector + norm
                            (ann.run_ivf_spark)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

from t2p_spark.session import session_key


@dataclass
class _Session:
    token: Hashable = None
    epoch: int = 0
    entries: dict = field(default_factory=dict)  # name -> (stamp, df)


_SESSIONS: dict[str, _Session] = {}


def materialize(spark: SparkSession, name: str,
                build: Callable[[], DataFrame], key: tuple = ()) -> DataFrame:
    """Cache ``build()`` once per (input epoch, key) and register it as
    temp view ``name``. A hit re-points the view (a test may have replaced
    it) and returns the cached entry; a stale one is unpersisted and
    rebuilt."""
    state = _SESSIONS.setdefault(session_key(spark), _Session())
    stamp = (state.epoch, tuple(key))
    entry = state.entries.get(name)
    if entry is None or entry[0] != stamp:
        if entry is not None:
            entry[1].unpersist()
        entry = state.entries[name] = (stamp, build().cache())
    entry[1].createOrReplaceTempView(name)
    return entry[1]


def new_inputs(spark: SparkSession, token: Hashable) -> bool:
    """Start a new input epoch unless ``token`` names the current inputs;
    returns whether it did. Every older entry is stale from then on."""
    state = _SESSIONS.setdefault(session_key(spark), _Session())
    if state.token == token:
        return False
    state.token = token
    state.epoch += 1
    return True


def reset(spark: SparkSession) -> None:
    """Unpersist every entry of the session, drop their views and forget
    its epoch and token."""
    state = _SESSIONS.pop(session_key(spark), None)
    if state is None:
        return
    for name, (_stamp, df) in state.entries.items():
        df.unpersist()
        spark.catalog.dropTempView(name)
