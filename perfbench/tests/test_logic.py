"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import types
from itertools import combinations

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import tracing  # noqa: E402
from stats import median, percentile, spread  # noqa: E402
from tracing import Span, Tracer, covered, self_times  # noqa: E402


# -- percentile rule ----------------------------------------------------------
def test_percentile_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(100)], 90) == 89.0
    assert percentile([float(i) for i in range(99)], 90) is None
    assert percentile([float(i) for i in range(20)], 50) == 9.0
    assert percentile([float(i) for i in range(19)], 50) is None
    assert percentile([], 50) is None


def test_median_and_spread():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([]) is None
    assert spread([1.0] * 10) == 0.0
    assert spread([float(i) for i in range(1, 11)]) == pytest.approx(5.5 / 5.5)


# -- span arithmetic ----------------------------------------------------------
def test_covered_is_union_length():
    assert covered([]) == 0.0
    assert covered([(1, 4), (3, 6)]) == 5
    assert covered([(1, 2), (3, 4), (1.5, 3.5)]) == 3
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_times_sum_to_op_wall():
    spans = [
        Span("driver.op", "driver", 0.0, 10.0, None, 1),
        Span("lake.table.upsert", "lake.table", 1.0, 4.0, 0, 1),
        Span("lake.metadata.write_version", "lake.metadata", 2.0, 3.0, 1, 1),
        Span("lake.compaction.compact", "lake.compaction", 5.0, 9.0, 0, 1),
    ]
    own = self_times(spans)
    assert own == [3.0, 2.0, 1.0, 4.0]
    assert sum(own) == spans[0].end - spans[0].start


def test_self_time_clips_children_to_parent():
    spans = [
        Span("p", "a", 0.0, 5.0, None, 1),
        Span("c1", "b", 1.0, 3.0, 0, 1),
        Span("c2", "b", 2.0, 7.0, 0, 1),  # overlaps c1, overruns p
    ]
    assert self_times(spans)[0] == 1.0


def test_per_layer_accounts_for_op_wall():
    t = Tracer()
    t.spans = [
        Span("driver.op", "driver", 0.0, 4.0, None, 1),
        Span("lake.table.upsert", "lake.table", 0.5, 3.5, 0, 1),
        Span("lake.metadata.write_version", "lake.metadata", 1.0, 2.0, 1, 1),
        Span("driver.op", "driver", 10.0, 12.0, None, 2),
        Span("lake.compaction.compact", "lake.compaction", 10.5, 11.0, 3, 2),
        # an off-the-clock check: counted only for the validator
        Span("lake.validator.fingerprint", "lake.validator", 13.0, 14.0, None, None),
        Span("lake.table.read", "lake.table", 13.0, 13.5, 5, None),
    ]
    m = tracing.per_layer(t, {"spark.jobs_wall_s": 1.0}, ops=2, overhead_pct=0.0)
    assert set(m) == set(tracing.PER_LAYER) - {"peak_rss_mb"}
    selfs = m["driver.other_s"] + sum(m[f"{l}.self_s"] for l in tracing.SPAN_LAYERS)
    assert selfs == pytest.approx(m["op.wall_s"]) == pytest.approx(3.0)
    assert m["lake.table.self_s"] == pytest.approx(1.0)
    assert m["lake.validator.fingerprint.s"] == pytest.approx(0.5)
    assert m["driver.gap_s"] == pytest.approx(2.5)


def test_wrap_records_spans_and_uninstall_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    t = Tracer()
    seen = []
    t.wrap(mod, "f", "layer", after=lambda r, args: seen.append((r, args)))
    assert mod.f(1) == 2 and not t.spans  # inactive: no span
    t.active = True
    assert mod.f(2) == 3
    assert [s.name for s in t.spans] == ["layer.f"] and seen == [(3, (2,))]
    t.uninstall()
    assert mod.f is orig


# -- seed determinism -----------------------------------------------------------
def _batches(seed, n=6):
    s = gen.CdcStream(seed, n_base=10_000, batch_rows=500)
    return [s.next_batch() for _ in range(n)]


def test_cdc_stream_is_seeded():
    a, b, c = _batches(1), _batches(1), _batches(2)
    for (ka, va), (kb, vb) in zip(a, b):
        assert np.array_equal(ka, kb) and np.array_equal(va, vb)
    assert any(not np.array_equal(ka, kc) for (ka, _), (kc, _) in zip(a, c))
    for keys, values in a:
        assert len(keys) == len(set(keys.tolist())) == len(values) == 500


def test_cdc_stream_favours_recent_keys():
    batches = _batches(3, n=10)
    recent = set(np.concatenate([k for k, _ in batches[-6:-1]]).tolist())
    overlap = len(recent & set(batches[-1][0].tolist())) / 500
    assert overlap > 0.5  # uniform draws would hit ~len(recent)/10k = 25%


def test_debt_plan_is_seeded():
    a, b, c = (gen.debt_plan(s, 20_000, 6) for s in (5, 5, 6))
    assert a.pos_deletes == b.pos_deletes
    assert np.array_equal(a.eq_keys, b.eq_keys)
    assert np.array_equal(a.visible_keys(), b.visible_keys())
    assert not np.array_equal(a.visible_keys(), c.visible_keys())
    assert gen.key_ranges(5, 20_000, 200, 8) == gen.key_ranges(5, 20_000, 200, 8)
    assert gen.key_ranges(5, 20_000, 200, 8) != gen.key_ranges(6, 20_000, 200, 8)


def test_debt_visible_keys_apply_every_delete():
    p = gen.debt_plan(7, 5_000, 4)
    vis = set(p.visible_keys().tolist())
    for k in range(5_000):
        dead = (any(k % m == r for m, r in p.pos_deletes)
                or k in set(p.eq_keys.tolist())
                or (k * gen.GROUP_MUL + 7) % gen.GROUPS in set(p.eq_groups.tolist()))
        assert (k in vis) != dead
    lo, hi = 1_000, 2_000
    assert gen.count_in_range(p.visible_keys(), lo, hi) == sum(lo <= k < hi for k in vis)


def test_corpus_is_seeded():
    a, b, c = gen.corpus(9, 40, 2), gen.corpus(9, 40, 2), gen.corpus(10, 40, 2)
    assert a.texts == b.texts and a.doc_ids == b.doc_ids
    assert a.texts != c.texts


def _shingles(text):
    toks = text.split()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def test_corpus_reference_counts():
    """The construction's counts equal a brute-force computation."""
    c = gen.corpus(11, 30, 2)
    assert c.distinct_texts == len(set(c.texts))
    distinct = sorted(set(c.texts))
    sh = {t: _shingles(t) for t in distinct}
    pairs = sum(
        len(sh[x] & sh[y]) / len(sh[x] | sh[y]) >= 0.5
        for x, y in combinations(distinct, 2)
    )
    assert pairs == c.near_pairs
    # clusters: connected components over the pairs
    parent = {t: t for t in distinct}

    def find(t):
        while parent[t] != t:
            t = parent[t]
        return t

    for x, y in combinations(distinct, 2):
        if len(sh[x] & sh[y]) / len(sh[x] | sh[y]) >= 0.5:
            parent[find(x)] = find(y)
    assert len({find(t) for t in distinct}) == c.clusters


# -- manifest -----------------------------------------------------------------
def test_result_metrics_match_manifest():
    import json

    import run

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "..", "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    units = lambda key: {m["name"]: m["unit"] for m in manifest[key]}  # noqa: E731
    assert units("end_to_end") == run.END_TO_END
    assert units("per_layer") == tracing.PER_LAYER
