"""The package's one Bloom filter: md5-derived bit positions, the
executor-side ``bit_or`` word fold, the packed little-endian bitset,
and the typed host-side probe.  Used by the per-file sidecar
(``storage.write_with_bloom``), the per-commit-dir snapshot sidecar
(``storage._snap_commit_bloom``) and the corpus decontamination
filter (``llm/bloomfilter.py``).

Positions are the first 48 bits of ``md5("{i}:" || CAST(key AS
STRING))`` mod m for i < k — engine-portable, so a non-Spark writer
(or the DuckDB oracle) replays every membership decision, false
positives included.  The fold sets bit ``pos`` in 64-bit word
``pos >> 6`` executor-side, so the driver collects at most m/64
words per filter — never the O(k·rows) position stream.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

K = 7  # hash functions; with 10 bits/key, fpp ~ 0.8%

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def positions(key: Column, m: int, k: int = K) -> Column:
    """The k bit positions of ``key`` as an array<bigint> column."""
    return F.array(*[
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"),
                                          key.cast("string"))),
                           1, 12), 16, 10).cast("bigint") % F.lit(m)
        for i in range(k)])


def words(df: DataFrame, key: Column, m: int, k: int = K,
          by: Column | None = None) -> DataFrame:
    """The non-zero bitset words of ``key`` over ``df``: rows
    ``(w, bits)``, or ``(g, w, bits)`` with one filter per value
    ``g`` of the ``by`` column.  NULL keys set no bits (NULL equals
    no probe)."""
    sel = [F.explode(positions(key, m, k)).alias("pos")]
    grp = [F.shiftright(F.col("pos"), 6).alias("w")]
    if by is not None:
        sel.insert(0, by.alias("g"))
        grp.insert(0, F.col("g"))
    return (df.filter(key.isNotNull()).select(*sel).groupBy(*grp)
            .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), pos % 64)"))
                 .alias("bits")))


def pack(rows, m: int) -> bytes:
    """``(w, bits)`` word rows -> the m-bit bitset as (m + 7) // 8
    little-endian bytes (bit p is bit ``p & 7`` of byte ``p >> 3``)."""
    out = bytearray(((m + 63) // 64) * 8)
    for w, word in rows:
        out[w * 8:w * 8 + 8] = (word & 0xFFFFFFFFFFFFFFFF).to_bytes(
            8, "little")
    return bytes(out[:(m + 7) // 8])


def bitsets(df: DataFrame, key: Column, m: int, k: int = K,
            by: Column | None = None):
    """Build the filter(s) with ONE driver collect of the folded
    words: the packed bitset, or ``{g: bitset}`` per ``by`` value
    (a group with no non-NULL key gets no entry)."""
    rows = words(df, key, m, k, by).collect()
    if by is None:
        return pack(rows, m)
    grouped: dict = {}
    for g, w, word in rows:
        grouped.setdefault(g, []).append((w, word))
    return {g: pack(ws, m) for g, ws in grouped.items()}


def probe_string(value, ctype: str | None) -> str | None:
    """The string Spark's ``CAST(col AS STRING)`` gives ``value`` in
    a column of storage type ``ctype`` — or None when that cannot be
    proven, meaning the caller must never prune.  Only same-family
    probes qualify: int ↔ integral, str ↔ string, bool ↔ boolean.
    An int probe against a double column renders "107" where the
    filter hashed "107.0", and a filter without a recorded type
    (``ctype`` None) proves nothing."""
    if isinstance(value, bool):
        if ctype == "boolean":
            return "true" if value else "false"
    elif isinstance(value, int):
        if ctype in _INTEGRAL:
            return str(value)
    elif isinstance(value, str):
        if ctype == "string":
            return value
    return None


def may_contain(bits: bytes, m: int, probe: str, k: int = K) -> bool:
    """False only when the bitset proves ``probe`` was never added."""
    for i in range(k):
        p = int(hashlib.md5(f"{i}:{probe}".encode()).hexdigest()[:12],
                16) % m
        if not bits[p >> 3] & (1 << (p & 7)):
            return False
    return True
