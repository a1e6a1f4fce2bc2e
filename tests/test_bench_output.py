"""bench.py output contract: the driver records the bench artifact
by parsing a JSON line out of the LAST 2000 characters of stdout —
round 8's line (per-query spread arrays) overran the window and the
round recorded parsed:null.  These tests pin the line budget without
starting Spark.

Round-15 contract (VERDICT r14 item 2): the 1900-char cap folded five
sub-second entries at the 90-entry headline and PERF_r14 reported
them dropped_from_bench.  The compact line now prints integral
medians as ints, `value` at 1 decimal, and caps at 1980 — in both
committed driver artifacts the captured tail is exactly 2000 chars
with the line + one newline ENDING it, so 19 chars of post-line
tolerance remain where history used 1.  The REALISTIC envelope must
carry ALL entries with ZERO folds; the valve stays only for host
meltdowns and mass-failure ERR maps.
"""

import json
import re

CAP = 1980


def _headline():
    import os
    src = open(os.path.join(os.path.dirname(__file__), "..",
                            "bench.py")).read()
    names = re.findall(r'^\s+"([a-z0-9_]+)",', src, re.M)
    assert len(names) >= 70          # the guard must track growth
    return names


def _compact(v):
    if not isinstance(v, (int, float)):
        return "ERR"
    r = round(v, 1)
    return int(r) if r == int(r) else r


def test_realistic_envelope_carries_every_entry_unfolded():
    """Every query at a 3-char 1-decimal median ("9.9") plus the 15
    heaviest at 4 chars ("99.9") and an errors field — the worst
    realistic steady state — must fit the cap with NO folds at all:
    the full per-query map is the driver contract, and round 14's
    five folded entries were scored dropped_from_bench."""
    names = _headline()
    out = {
        "metric": "headline_queries_total", "value": 9999.9,
        "unit": "sec",
        "queries": {n: _compact(99.9 if i < 15 else 9.9)
                    for i, n in enumerate(names)},
        "sf": 0.1, "errors": 1,
    }
    line = _valve(out)
    assert len(line) <= CAP, (
        f"{len(names)}-query headline serializes to {len(line)} chars "
        "even after the valve; the driver captures only the last 2000")
    assert out.get("fast_other_n", 0) == 0, (
        "the realistic envelope folds entries — the full per-query "
        "map is the driver contract (round 14's folds were scored "
        "dropped_from_bench); slim the compact encoding instead")
    assert set(out["queries"]) == set(names)


def test_integral_medians_print_as_ints():
    """The zero-fold envelope depends on integral medians costing
    "11" not "11.0" — pin the encoder's behavior and its presence in
    bench.py so a formatting regression re-runs the envelope math."""
    assert _compact(11.0) == 11 and isinstance(_compact(11.0), int)
    assert _compact(11.04) == 11 and isinstance(_compact(11.04), int)
    assert _compact(1.25) == 1.2           # bankers' via round()
    assert _compact(7) == 7 and isinstance(_compact(7), int)
    assert _compact({"err": "boom"}) == "ERR"
    assert _compact("boom") == "ERR"
    import os
    src = open(os.path.join(os.path.dirname(__file__), "..",
                            "bench.py")).read()
    assert "return int(r) if r == int(r) else r" in src
    assert "if not isinstance(v, (int, float)):" in src
    assert '"value": round(total, 1),' in src
    # anchor_sec appears in the DETAIL dict, never in the compact out
    compact = src[src.index('out = {'):src.index('if failed:')]
    assert '"anchor_sec"' not in compact.replace(
        '# anchor_sec / python_anchor_sec / disk_anchor_sec', '')


def test_pathological_line_folds_few_entries():
    """Even if EVERY query ran slow (5-char medians across the whole
    headline — a host meltdown, not a plausible steady state), the
    valve must recover a parseable line by folding only a handful of
    the fastest entries."""
    names = _headline()
    out = {
        "metric": "headline_queries_total", "value": 9999.9,
        "unit": "sec",
        "queries": {n: 99.99 for n in names},
        "sf": 0.1, "anchor_sec": 0.999, "errors": 1,
    }
    line = _valve(out)
    assert len(line) <= CAP
    assert out.get("fast_other_n", 0) <= 15
    assert len(out["queries"]) >= len(names) - 15


def _valve(out):
    """The fold valve exactly as bench.py runs it (kept in sync by
    test_valve_replica_matches_source below)."""
    line = json.dumps(out, separators=(",", ":"))
    while len(line) > 1980 and out["queries"]:
        q = out["queries"]
        victim = min((n for n, v in q.items()
                      if isinstance(v, (int, float))),
                     key=lambda n: q[n], default=None)
        if victim is None:
            err = next((n for n, v in q.items()
                        if not isinstance(v, (int, float))), None)
            if err is None:
                break
            q.pop(err)
            out["errors_folded"] = out.get("errors_folded", 0) + 1
        else:
            out["fast_other_sec"] = round(
                out.get("fast_other_sec", 0.0) + q.pop(victim), 2)
            out["fast_other_n"] = out.get("fast_other_n", 0) + 1
        line = json.dumps(out, separators=(",", ":"))
    return line


def test_fold_valve_converges():
    """The emergency valve in bench.py (fold the fastest queries into
    one residual bucket) must terminate and keep the heavy entries —
    replicated here against an absurdly oversized synthetic
    headline."""
    out = {
        "metric": "headline_queries_total", "value": 1.0, "unit": "sec",
        "queries": {f"qqqqqqqqqqqqqqqqqqqqqq_{i:03d}": float(i)
                    for i in range(200)},
        "sf": 0.1, "anchor_sec": 0.1, "detail": "bench_detail.json",
    }
    assert len(json.dumps(out, separators=(",", ":"))) > CAP
    line = _valve(out)
    assert len(line) <= CAP
    kept = out["queries"]
    assert max(float(n.split("_")[-1]) for n in kept) == 199.0
    assert out["fast_other_n"] > 0


def test_fold_valve_converges_on_all_err_headline():
    """Mass-failure shape: every query is "ERR".  The valve must still
    shrink the line under the driver window by folding failed-query
    names into an errors_folded count (their names live in
    bench_detail.json's failed map) — the exact case the valve exists
    for, where an unparseable line would lose the round's artifact."""
    out = {
        "metric": "headline_queries_total", "value": 0.0, "unit": "sec",
        "queries": {f"qqqqqqqqqqqqqqqqqqqqqq_{i:03d}": "ERR"
                    for i in range(200)},
        "sf": 0.1, "anchor_sec": 0.1, "detail": "bench_detail.json",
        "errors": 200,
    }
    assert len(json.dumps(out, separators=(",", ":"))) > CAP
    line = _valve(out)
    assert len(line) <= CAP
    assert out["errors_folded"] > 0
    json.loads(line)                 # still one parseable JSON line


def test_valve_replica_matches_source():
    """_valve above must be a literal copy of bench.py's loop body —
    compare the distinctive lines so the replica cannot drift."""
    import os
    src = open(os.path.join(os.path.dirname(__file__), "..",
                            "bench.py")).read()
    for frag in ['out["errors_folded"] = out.get("errors_folded", 0) + 1',
                 'out["fast_other_n"] = out.get("fast_other_n", 0) + 1',
                 'while len(line) > 1980 and out["queries"]:',
                 'if isinstance(v, (int, float))),']:
        assert frag in src, f"bench.py valve drifted: {frag!r} missing"
