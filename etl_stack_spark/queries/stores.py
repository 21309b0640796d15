"""Session stores: intermediates built once per (Spark session, input
directory) and read by every query that consumes them — the match
stream of the lead-prep family, the ANN corpus and trained indexes, the
MinHash signature/pair/cluster tables, the corpus-wash signals and the
trained curation artifacts. On a cluster each is a staging table written
once and read many times (the reference builds every Lead Prep tier from
one match query per property, cl_test1.py:63-218).

A builder is a ``(spark, sf_dir) -> value`` function decorated with
:func:`session_store`; the value is a DataFrame, a tuple or a dict of
them, or a driver-side artifact. Entries are keyed on
``(applicationId, abspath(sf_dir), builder)``, so nothing outlives its
session and two spellings of one directory share an entry.
"""

from __future__ import annotations

import functools
import os
import threading

from pyspark.sql import DataFrame

_STORES: dict[tuple, object] = {}
_BUILDERS: list = []  # every decorated builder, in registration order

# Hits are lock-free; a miss is double-checked under one lock. The lock
# does not prevent cache leaks — Spark's CacheManager merges identical
# plans, so concurrent cold persists of one builder add one cached RDD.
# It exists for two reasons:
#   * one handle per key: every consumer reads the same object, so
#     ``clear`` unpersists exactly what consumers read;
#   * one run of the driver-side training and eager ``localCheckpoint``
#     work (pq, ivfpq, bpe1, ql2) instead of one per concurrent caller.
# Reentrant because builders nest (cluster_base -> pair_base -> sig_base,
# _pq_trained -> _ann_normalized).
_LOCK = threading.RLock()


def session_store(builder):
    """Memoize ``builder(spark, sf_dir)`` per session and input directory.
    A builder that raises stores nothing; the next call rebuilds."""

    @functools.wraps(builder)
    def get(spark, sf_dir):
        key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), builder)
        hit = _STORES.get(key)
        if hit is not None:
            return hit
        with _LOCK:
            hit = _STORES.get(key)
            if hit is None:
                hit = _STORES[key] = builder(spark, sf_dir)
            return hit

    _BUILDERS.append(get)
    return get


def builders() -> list:
    """The package's store builders (decorated), in registration order:
    a module registers its builders top to bottom after importing the
    modules it reads from, so a store's inputs come before the store.
    Builders decorated outside the package (e.g. in tests) are left out."""
    return [b for b in _BUILDERS if b.__module__.startswith(__package__ + ".")]


def _frames(value) -> list[DataFrame]:
    if isinstance(value, dict):
        value = tuple(value.values())
    parts = value if isinstance(value, tuple) else (value,)
    return [p for p in parts if isinstance(p, DataFrame)]


def clear(module: str | None = None) -> None:
    """Unpersist and drop every entry whose builder is defined in
    ``module`` (a dotted module name), or every entry when None."""
    with _LOCK:
        for key in [k for k in _STORES if module in (None, k[2].__module__)]:
            for df in _frames(_STORES.pop(key)):
                try:
                    df.unpersist()
                except Exception:  # e.g. a frame whose session has stopped
                    pass
