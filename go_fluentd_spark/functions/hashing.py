"""A cross-engine-stable string hash (md5-prefix as int) used by the
dedup/minhash operators so the DuckDB oracle can reproduce signatures.

The reference's ``xxhash(Message[lb_key]) % nfork`` state affinity
(``internal/tagfilters/base.go:78-92``, ``internal/recvs/fluentd.go:368-377``)
needs no helper: the concat window's (tag, container_id) shuffle gives it.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def stable_hash64(col: Column) -> Column:
    """Deterministic 60-bit int hash of a string, identical in DuckDB:
    ``cast(('0x' || substr(md5(x),1,15)) as bigint)`` — 15 hex chars keeps it
    positive and within int64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
