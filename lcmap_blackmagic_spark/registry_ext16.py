"""Seventeenth extension wave (round 11) — the two features this
round added to the table format and the curation surface, under the
correctness gate:

- ``snapshot_timetravel``: TIMESTAMP AS OF resolution over a
  multi-commit log (storage.version_as_of — round 10's as_of reader
  atop round 11's manifest-log checkpoints: resolution reads the
  checkpoint's rolled-up {version → ts} map plus the tail manifests,
  O(tail) opens).  The oracle recomputes each pinned version's
  CONTENT from the slice arithmetic, so a mis-resolved instant can
  not hash-match.

- ``llm_bloom_decontam``: decontamination against a benchmark split
  through a BROADCAST BLOOM FILTER — the at-scale form of the
  5-gram semi-join (``llm_decontaminate``): the benchmark's grams
  fold into an m-bit bitset (operators/bloom.py, the filter the
  storage sidecars use too), the bitset broadcasts to every
  worker (kilobytes, not the gram list), and each corpus gram tests
  k md5 positions in one Arrow-vectorized numpy pass.  Because the
  positions are deterministic md5, DuckDB replays the EXACT
  membership decision — including any false positives — so the whole
  filter (a probabilistic structure!) carries a bit-exact oracle.

Reference anchor: nothing in lcmap-blackmagic — the snapshot store
and the LLM curation surface are the engine's own first-class
additions (brief §LLM-ops); the bloom filter is the one
storage.write_with_bloom uses for file skipping, re-aimed at
membership filtering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import _t

# ---------------------------------------------------- timetravel ----

TT_SLICES = 4


def q_snapshot_timetravel(spark, sf_dir):
    """Commit orders in TT_SLICES key-sliced appends, then read the
    table TIMESTAMP AS OF an instant inside each inter-commit gap
    (plus one after the last) and aggregate what each pinned instant
    sees.  A second run in the same process appends onto the same
    staging table (double-run stability): the as_of instants are
    recomputed from THIS run's manifests, and the first write is an
    overwrite, so every run's four reads see exactly slices
    0..k-1."""
    import json
    import os
    import time

    from .registry import _staging
    from .storage import SNAP_MANIFESTS, read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("cents"))
    t = _staging(sf_dir, "tt_orders")
    versions = []
    ts = []
    for s in range(TT_SLICES):
        # manifest ts rounds to 1 ms (_commit_ts); two commits that
        # round to the SAME ms would make the midpoint instant equal
        # both and version_as_of resolve to the LATER — spin until
        # the clock strictly advances past the previous commit's ts
        while ts and round(time.time(), 3) <= ts[-1]:
            time.sleep(0.001)
        v = write_snapshot(o.filter(F.col("o_orderkey") % TT_SLICES == s),
                           t, mode="append" if s else "overwrite",
                           collect_stats=False)
        versions.append(v)
        with open(os.path.join(t, SNAP_MANIFESTS, f"v{v}.json")) as fh:
            ts.append(json.load(fh)["ts"])
    # midpoints between consecutive commit instants (and +1 s after
    # the last) — strictly-increasing ts asserted above makes each
    # midpoint land strictly between its two commits
    instants = [(a + b) / 2 for a, b in zip(ts, ts[1:])] + [ts[-1] + 1.0]
    out = None
    for k, inst in enumerate(instants, start=1):
        part = (read_snapshot(spark, t, as_of=inst)
                .agg(F.lit(k).alias("n_slices"),
                     F.count(F.lit(1)).alias("n_orders"),
                     F.sum("cents").alias("sum_cents")))
        out = part if out is None else out.unionByName(part)
    return out.orderBy("n_slices")


SQL_SNAPSHOT_TIMETRAVEL = f"""
SELECT v.k AS n_slices,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders, (SELECT UNNEST(range(1, {TT_SLICES + 1})) AS k) v
WHERE o_orderkey % {TT_SLICES} < v.k
GROUP BY v.k
ORDER BY n_slices
"""

# ------------------------------------------------ bloom decontam ----

from .llm.bloomfilter import BLOOM_K, BLOOM_M, DECON_N  # noqa: E402


def q_llm_bloom_decontam(spark, sf_dir):
    """Corpus docs (source != src0) are DROPPED when any of their
    word 5-grams bloom-hits the src0 benchmark set.  Output: the
    per-source funnel (docs in, docs dropped, docs kept).

    Scale shape (llm/bloomfilter.py, shared with the streaming twin
    bloom_decontam_stream): the benchmark grams never leave the
    executors as a list — they fold into BLOOM_M bits executor-side
    (operators/bloom.py; the driver collects m/64 words once), and the
    probe side tests each distinct (doc, gram)'s k positions against
    the BROADCAST bitset in one vectorized numpy pass per Arrow
    batch.  At 100 TB the bitset for a 10^9-gram benchmark is
    ~1.2 GB broadcast once, vs shuffling the corpus's grams against
    a multi-TB gram table — the standard production decontam trade
    (deterministic FPR instead of an exact join; the FPR is part of
    the checked semantics)."""
    from .llm.bloomfilter import doc_hit_flags
    from .llm.dedup import shingles
    from .operators import bloom

    d = _t(spark, sf_dir, "documents")
    bench = (d.filter(F.col("source") == "src0")
             .select(F.explode(shingles("text", DECON_N)).alias("g"))
             .distinct())
    bits = bloom.bitsets(bench, F.col("g"), BLOOM_M, BLOOM_K)
    corpus = d.filter(F.col("source") != "src0")
    # per-doc flag straight from the gram probe's aggregate, then an
    # UNFORCED left join back (AQE picks the strategy) — never a
    # forced broadcast of a data-dependent, potentially O(corpus)
    # id set (round-11 verdict What's-wrong #1)
    flagged = corpus.join(doc_hit_flags(corpus, bits), "doc_id", "left")
    hit = F.coalesce(F.col("__hit"), F.lit(False))
    return (flagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(hit, 1)
                       .otherwise(0)).cast("bigint").alias("n_dropped"),
                 F.sum(F.when(hit, 0)
                       .otherwise(1)).cast("bigint").alias("n_kept"))
            .orderBy("source"))


def _sql_bloom_decontam() -> str:
    """DuckDB replay of the EXACT bloom decision: a corpus gram hits
    iff every one of its k positions is set by SOME benchmark gram's
    positions — k-out-of-k membership in the benchmark's position
    set, false positives included."""
    gram5 = ("UNNEST(list_transform(generate_series(1, len(ws) - 4), "
             "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' "
             "|| ws[i+3] || ' ' || ws[i+4]))")
    pos = " UNION ALL ".join(
        f"SELECT g, CAST('0x' || substr(md5('{i}:' || g), 1, 12) "
        f"AS BIGINT) % {BLOOM_M} AS pos FROM {{src}}"
        for i in range(BLOOM_K))
    return f"""
WITH bgrams AS (
  SELECT DISTINCT {gram5} AS g
  FROM (SELECT string_split(lower(trim(text)), ' ') AS ws
        FROM documents WHERE source = 'src0')),
bpos AS (SELECT DISTINCT pos FROM ({pos.format(src='bgrams')})),
cgrams AS (
  SELECT DISTINCT doc_id, {gram5} AS g
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
        FROM documents WHERE source <> 'src0')),
cg AS (SELECT DISTINCT g FROM cgrams),
cpos AS ({pos.format(src='cg')}),
hits AS (
  SELECT c.g
  FROM cpos c LEFT JOIN bpos b ON b.pos = c.pos
  GROUP BY c.g
  HAVING COUNT(*) = {BLOOM_K} AND COUNT(b.pos) = {BLOOM_K}),
dropped AS (
  SELECT DISTINCT cgrams.doc_id
  FROM cgrams JOIN hits ON hits.g = cgrams.g)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
WHERE d.source <> 'src0'
GROUP BY d.source
ORDER BY d.source
"""


QUERIES_EXT16: dict[str, dict] = {
    "snapshot_timetravel": {"fn": q_snapshot_timetravel,
                            "sql": SQL_SNAPSHOT_TIMETRAVEL},
    "llm_bloom_decontam":  {"fn": q_llm_bloom_decontam,
                            "sql": _sql_bloom_decontam()},
}
