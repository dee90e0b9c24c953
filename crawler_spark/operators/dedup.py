"""URL-seen membership: the exact anti-join against the seen table.

The reference's visited map (engine/schedule.go:412-429) is an in-memory
``map[md5key]bool`` — exact, single-node. Here the seen set is an
append-only table and a round's candidates take one ``left_anti`` join
against it: exact by construction, JVM-only, and the seen side is a column
scan of ``key`` alone.

There is no probabilistic pre-filter. A fixed-size broadcast Bloom filter
was measured slower than the plain join on the steady-state benchmark
(SCALE.md, "URL-seen prefilter"): its probe ran in Python workers, the
optimizer pushed the probe onto the seen side too, and a filter only pays
when sized to its key count (at 10^6 keys a 2^22-bit filter passes ~16%
of misses). A JVM-native, manifest-sized filter is the place to start if a
seen set ever grows too big to join cheaply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def anti_join_seen(
    candidates: DataFrame, seen: DataFrame, key_col: str = "key"
) -> DataFrame:
    """Exact ``candidates WHERE key NOT IN seen``."""
    return candidates.join(seen.select(key_col), key_col, "left_anti")
