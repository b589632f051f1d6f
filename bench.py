"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query is forced through a noop sink (computes every output column,
unlike count(), which lets Catalyst prune the projection).
"""

from __future__ import annotations

import json
import os
import sys
import time

# Pin BLAS/OMP thread pools to 1 BEFORE numpy loads anywhere (the
# pools size themselves at library load). Verdict r11 #8: every other
# round a cluster of numpy-adjacent phase-2 queries drifted past the
# contention probes' explanation band; an unpinned OpenBLAS spawns
# its own pool in EVERY forked Python worker (32 workers × N BLAS
# threads oversubscribes the host by an amount that varies with
# ambient load — exactly the irreproducible confounder observed).
# One BLAS thread per worker is also the correct 100 TB posture: the
# parallelism budget belongs to Spark's task scheduler, not to a
# nested pool it cannot see. setdefault so an explicit caller env
# still wins; the EFFECTIVE values are recorded in the JSON.
_THREAD_PINS = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}
for _k, _v in _THREAD_PINS.items():
    os.environ.setdefault(_k, _v)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from bergloom_spark.session import get_spark  # noqa: E402

# The r01/r02 headline set — kept as its own list so the JSON can
# report a subtotal comparable across ALL rounds' BENCH files.
HEADLINE_R1 = [
    "compact_roundtrip",
    "mor_pos_delete",
    "mor_eq_delete_seq",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top_parts_per_brand",
    "events_hourly",
    "asof_purchase_view",
    "dedup_fingerprint",
    "pipeline_clean_corpus",
    "simhash",
    "minhash_lsh_pairs",
    "knn_bruteforce",
]

# Round-2/3 operator surface (perf regression tracking, VERDICT r2 #6).
# r13 (verdict r12 wrong #2): the benched BPE shape is the PRODUCTION
# pipeline (bpe_pipeline_fast: one distributed vocab agg + O(vocab)
# driver merge loop + distributed encode) — the per-merge-job learner
# bpe_token_stats measured driver-loop latency (48 stages for 10
# merges), not corpus throughput; it stays module-resolvable and
# parity-pinned in tests/test_bpe.py. Neither is in the driver
# registry (no SQL oracle for an N-merge learn loop) — both resolve
# from the module directly below.
HEADLINE = HEADLINE_R1 + [
    "quality_classifier",
    "dedup_remove_spans",
    "embedding_dedup",
    "bpe_pipeline_fast",
    "hard_negatives_ivf",
    "multimodal_decode_real",
    # round-4 operator surface
    "ngram_jaccard_pairs",
    "dedup_verified_pairs",
    "audio_features_real",
    "video_frames_real",
]


# Warm up at the MEASURED scale factor (override with
# SPARK_GRAFT_WARMUP_SF_DIR): steady-state throughput is the quantity
# a 100 TB run is made of, and the first run at a given SF pays
# one-time costs the steady state never sees again — Janino + HotSpot
# compilation of each expression tree (only triggered after enough row
# iterations per thread) and file-listing/footer caches.
WARMUP_SF_DIR = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "")


def _cpu_calibration() -> float:
    """Fixed single-thread CPU probe, timed before Spark exists.

    Round-4's verdict flagged +39..70% drift on queries whose code and
    plans were untouched; round-5 reproduced it as a UNIFORM +10..25%
    across all 14 r1-comparable queries that persists under shuffled
    pass order AND full phase isolation in a fresh JVM — i.e. the host
    itself (VM CPU clock / steal / neighbors) runs slower on some
    days. This constant workload (numpy matmul + a pure-Python loop)
    is the reference clock: compare it across rounds' BENCH files —
    if it shifted by the same ratio as the query subtotal, the drift
    is the machine, not the plans."""
    import numpy as np

    # Elementwise numpy only — a matmul would dispatch to OpenBLAS,
    # whose thread count varies with host parallelism and would
    # confound the single-core clock this probe exists to measure
    # (review r5). Elementwise ufuncs and the Python loop are
    # single-threaded by construction.
    def _one() -> float:
        a = np.arange(4 * 1024 * 1024, dtype=np.float64) / (
            4 * 1024 * 1024
        )
        t0 = time.monotonic()
        for _ in range(8):
            a = np.sin(a) * 1.1 + 0.1
            a -= np.floor(a)
        acc = 0
        for i in range(2_000_000):
            acc += i * i % 7
        return time.monotonic() - t0

    # Best of 3: the probe is the REFERENCE CLOCK — a one-off
    # scheduler stall inside the single sample would masquerade as
    # host drift (r6; same estimator the query timings use).
    return round(min(_one() for _ in range(3)), 3)


def _cpu_calibration_parallel() -> float:
    """All-cores probe beside the single-thread one (verdict r6 #3):
    r6 saw a uniform +9% on untouched queries while the single-thread
    probe said the host got FASTER — a one-core clock is blind to the
    contention profile a 32-thread bench actually runs under (memory
    bandwidth, LLC, SMT neighbors). This probe saturates every core
    with the same bandwidth-bound ufunc chain (numpy releases the GIL
    in the ufunc inner loops), so cross-round movement here that the
    single-thread probe misses attributes uniform drift to the host's
    PARALLEL capacity rather than to the plans."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    n = min(32, os.cpu_count() or 1)

    def _one(_i) -> float:
        a = np.arange(2 * 1024 * 1024, dtype=np.float64) / (
            2 * 1024 * 1024
        )
        for _ in range(8):
            a = np.sin(a) * 1.1 + 0.1
            a -= np.floor(a)
        return float(a[0])

    def _run_once() -> float:
        t0 = time.monotonic()
        with ThreadPoolExecutor(max_workers=n) as ex:
            list(ex.map(_one, range(n)))
        return time.monotonic() - t0

    return round(min(_run_once() for _ in range(3)), 3)


def _lib_versions() -> dict:
    """Versions of every library on the bench's hot path — a silent
    container-image bump of numpy/pandas/pyarrow is indistinguishable
    from code drift without this record (verdict r11 #8)."""
    import platform

    out = {"python": platform.python_version()}
    for mod in ("numpy", "pandas", "pyarrow", "pyspark"):
        try:
            out[mod] = __import__(mod).__version__
        except Exception:
            out[mod] = None
    return out


def _current_round() -> int | None:
    """Round number the CURRENT run belongs to — parsed from
    VERDICT.md's title (written at the END of round N, so during
    round N+1 it reads N). Overridable via SPARK_GRAFT_BENCH_ROUND."""
    env = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    if env and env.isdigit():
        return int(env)
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "VERDICT.md")) as f:
            head = f.read(200)
        m = re.search(r"round\s+(\d+)", head)
        if m:
            return int(m.group(1)) + 1
    except OSError:
        pass
    return None


def _calibration_anchor() -> dict | None:
    """Newest committed BENCH_r*.json STRICTLY OLDER than the current
    round that carries a calibration probe — the cross-round
    reference clock (verdict r5 #4): drift is only REAL when the
    calibration-normalized total moves; a raw total that shifted by
    the same ratio as the probe is the host. The current round's own
    file is excluded (advice r6: a re-run used to anchor against its
    own probe, ratio ≈ 1, defeating the normalization)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    cur = _current_round()
    for path in sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")), reverse=True
    ):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        # Only the main per-round records anchor the clock: side
        # records like BENCH_r14_c8.json (the driver's low-core run)
        # don't match the strict name, so before this guard the
        # reverse sort made one of them the anchor — and its round
        # number was invisible to the current-round exclusion
        # (inherited r15 fix; test_bench_anchor_excludes_current_round
        # caught it).
        if m is None:
            continue
        if cur is not None and int(m.group(1)) >= cur:
            continue
        try:
            with open(path) as f:
                doc = json.load(f)
        except Exception:
            continue
        raw = doc if isinstance(doc, dict) else {}
        if isinstance(doc, dict):
            doc = doc.get("parsed", doc)
        if isinstance(doc, dict) and doc.get("cpu_calibration_sec"):
            return {
                "file": os.path.basename(path),
                "cpu_calibration_sec": doc["cpu_calibration_sec"],
                "cpu_calibration_parallel_sec": doc.get(
                    "cpu_calibration_parallel_sec"
                ),
            }
        # BENCH_r07 lesson (verdict r7 #1): the driver's finite tail
        # buffer can cut the single giant JSON line mid-stream, leaving
        # parsed=null — but the probe fields sit at the line's END and
        # routinely survive in the raw "tail" text. Regex them out so a
        # truncated record still anchors the cross-round clock.
        tail = raw.get("tail")
        if isinstance(tail, str):
            m1 = re.search(r'"cpu_calibration_sec":\s*([\d.]+)', tail)
            m2 = re.search(
                r'"cpu_calibration_parallel_sec":\s*([\d.]+)', tail
            )
            if m1:
                return {
                    "file": os.path.basename(path),
                    "cpu_calibration_sec": float(m1.group(1)),
                    "cpu_calibration_parallel_sec": (
                        float(m2.group(1)) if m2 else None
                    ),
                }
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bergloom_spark.session import default_cpus

    _effective_cpus = default_cpus()
    calibration = _cpu_calibration()
    calibration_parallel = _cpu_calibration_parallel()
    spark = get_spark(app_name="bergloom-bench")
    queries = dict(entry_mod.queries())
    queries.setdefault("bpe_pipeline_fast", entry_mod.q_bpe_pipeline_fast)
    # JMH-style warmup at the smallest SF: compiles/JITs every query's
    # generated code once so the timed section measures steady-state
    # throughput (what a 100 TB run is made of), not one-time Janino +
    # HotSpot compilation of each expression tree.
    warmup_dir = WARMUP_SF_DIR if WARMUP_SF_DIR and os.path.isdir(WARMUP_SF_DIR) else sf_dir
    # ≥2 warmup iterations: HotSpot tiers up the generated code across
    # runs (run 2 is routinely ~2× run 3's steady state for the
    # HOF-heavy queries — the quantity a long 100 TB job experiences).
    warmup_iters = int(os.environ.get("SPARK_GRAFT_WARMUP_ITERS", "2"))
    do_warmup = (
        os.environ.get("SPARK_GRAFT_NO_WARMUP") != "1"
        and os.path.isdir(warmup_dir)
    )
    # Best of N timed passes per query: the quantity of interest is
    # steady-state throughput, and a single pass is hostage to one-off
    # host-level stalls (VM CPU steal, writeback storms) that say
    # nothing about the plan being measured.
    #
    # Phase isolation + pass-major shuffled order (VERDICT r4 "what's
    # wrong" #1): r4 measured +39..70% drift on four untouched
    # r1-comparable queries once four new heavy headliners joined the
    # set — their GC/code-cache/heap debt bled into the older queries'
    # timings. The r1-comparable subtotal is only apples-to-apples
    # with BENCH_r01 if it is measured the way r01 measured it: warm
    # and time the 14-query set BEFORE the later additions ever run in
    # the JVM. So the bench runs two isolated phases (r1 set first,
    # then the round-2+ additions); within each phase the order is
    # shuffled per pass and a System.gc() drains the previous pass's
    # debt, so best-of-N recovers each query's unperturbed time.
    import random

    # 5 passes from r7 on (verdict r6 #3): with 3 passes a pair of
    # correlated stalls still contaminates the min; 5 halves that
    # odds and the median becomes a meaningful second estimator.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
    rng = random.Random(20260814)
    best: dict[str, float] = {n: float("inf") for n in HEADLINE}
    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    rest = [n for n in HEADLINE if n not in HEADLINE_R1]
    # Per-phase probes (verdict r8 #3): the two phases run minutes
    # apart, and r8 saw phase-2-localized movement (+15..40% on
    # untouched queries, r1 set flat) that the ONCE-per-bench probes
    # straddled and could not adjudicate. Sampling both probes
    # immediately before each phase's timed passes pins each phase's
    # host contention window, so the drift decision rule can be
    # applied to the phase the movement occurred in.
    phase_probes: list[dict] = []
    # Per-query shuffle/spill record (verdict r11 #6): stage-metric
    # deltas from the listener-fed AppStatusStore, captured on each
    # query's FIRST timed pass only (two store reads per query; later
    # passes run uninstrumented so the best-of-N floor is clean).
    from bergloom_spark.plans.runtime_metrics import StageMetricsCapture

    queries_io: dict[str, dict] = {}
    for group in (HEADLINE_R1, rest):
        if do_warmup:
            for _ in range(warmup_iters):
                for name in group:
                    queries[name](spark, warmup_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
        # key names deliberately differ from the top-level probe keys:
        # _calibration_anchor()'s truncated-tail recovery regexes the
        # raw tail for '"cpu_calibration_sec"', and the tail keeps the
        # END of the line — where this block sits. Identical nested
        # names would let a phase probe (sampled with the JVM live)
        # masquerade as the pre-Spark anchor (review r9).
        phase_probes.append(
            {
                "single_thread_sec": _cpu_calibration(),
                "parallel_sec": _cpu_calibration_parallel(),
            }
        )
        for _ in range(passes):
            order = list(group)
            rng.shuffle(order)
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            for name in order:
                # capture reads sit OUTSIDE the timed region (review
                # r12: the status-store walk is ~10 py4j round trips
                # per retained stage, growing as the bench accumulates
                # stages — inside the clock it would inflate exactly
                # the first-pass samples the median estimator uses)
                cap = None
                if name not in queries_io:
                    cap = StageMetricsCapture(spark)
                    cap.__enter__()
                start = time.monotonic()
                df = queries[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                elapsed = time.monotonic() - start
                if cap is not None:
                    cap.__exit__(None, None, None)
                    queries_io[name] = cap.metrics
                best[name] = min(best[name], elapsed)
                samples[name].append(elapsed)
    import statistics

    timings = {n: round(best[n], 3) for n in HEADLINE}
    medians = {
        n: round(statistics.median(samples[n]), 3) for n in HEADLINE
    }
    total = round(sum(timings.values()), 3)
    r1_total = round(
        sum(timings[n] for n in HEADLINE_R1 if n in timings), 3
    )
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # Calibration-normalized totals (verdict r5 #4): divide by the
    # probe ratio vs the newest prior round's probe — equal-host
    # totals pass through unchanged; on a slow/fast host day the
    # normalized number is the one that carries plan-quality signal.
    anchor = _calibration_anchor()
    normalized = {}
    if anchor and anchor["cpu_calibration_sec"]:
        ratio = round(calibration / anchor["cpu_calibration_sec"], 3)
        normalized = {
            "calibration_anchor": anchor["file"],
            "calibration_ratio_vs_anchor": ratio,
            "value_drift_normalized": round(total / ratio, 3),
            "r1_comparable_total_drift_normalized": round(
                r1_total / ratio, 3
            ),
        }
        if anchor.get("cpu_calibration_parallel_sec"):
            normalized["calibration_parallel_ratio_vs_anchor"] = round(
                calibration_parallel
                / anchor["cpu_calibration_parallel_sec"],
                3,
            )
    full_record = (
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # median-of-N beside best-of-N (verdict r6 #3): if
                # the min and the median disagree on a cross-round
                # delta, the min was contaminated by correlated
                # stalls; if they agree, the delta is real.
                "queries_median": medians,
                "total_median": round(sum(medians.values()), 3),
                "cpus": _effective_cpus,
                "sf": float(sf) if sf else None,
                # apples-to-apples vs BENCH_r01/r02 (their 14-query set)
                "r1_comparable_total": r1_total,
                **normalized,
                "timing_protocol": (
                    f"two isolated phases (r1-comparable set first, "
                    f"round-2+ additions after), pass-major, order "
                    f"shuffled per pass (seed 20260814), System.gc() "
                    f"between passes, best of {passes}"
                ),
                # Single-thread CPU probe timed before Spark started:
                # the r3->r4 r1-comparable drift reproduced in round 5
                # as a UNIFORM +10-25% on all 14 queries (plans
                # unchanged) that survives shuffled order and full
                # phase isolation in a fresh JVM -> host-level speed
                # variation. Divide the subtotal by this to compare
                # plan quality across rounds on unequal hosts/days.
                "cpu_calibration_sec": calibration,
                # All-cores probe (32-thread bandwidth-bound ufunc
                # chain): the contention-profile clock the single-
                # thread probe cannot see.
                "cpu_calibration_parallel_sec": calibration_parallel,
                # Per-phase probes (r9, verdict r8 #3): sampled
                # immediately before each phase's timed passes.
                # phase1 = the r1-comparable set, phase2 = round-2+
                # additions. Adjudication of the r8 episode: phase-2
                # queries rose 15-40% with ZERO code change while the
                # r1 set stayed flat and the once-per-bench probes
                # explained neither — these per-phase values are the
                # clock that episode needed; compare a phase's
                # queries against ITS probe ratios, not the global
                # ones.
                "cpu_calibration_by_phase": {
                    "phase1": phase_probes[0] if phase_probes else None,
                    "phase2": (
                        phase_probes[1] if len(phase_probes) > 1 else None
                    ),
                },
                # Drift adjudication rule (verdict r7 #4), applied
                # cross-round by whoever reads two BENCH files: a
                # query's movement is EXPLAINED by a probe when its
                # cross-round ratio is within ±5% of that probe's
                # ratio. Uniform movement matching the PARALLEL ratio
                # but not the single-thread one = host parallel
                # capacity (the r6 episode); matching the single-
                # thread ratio = host clock; matching neither while
                # uniform across untouched queries = bisect the code.
                "drift_decision_rule": (
                    "explained-by-probe iff per-query ratio within "
                    "±5% of the probe ratio; parallel-only → host "
                    "parallel capacity; single-thread → host clock; "
                    "neither & uniform → bisect"
                ),
                # Environment record (verdict r11 #8): the effective
                # BLAS/OMP pins and library versions, so a cross-round
                # delta can first be checked against an environment
                # change before any bisect. Pinned from r12 on; BENCH
                # files ≤ r11 ran with UNPINNED BLAS pools.
                "env_pins": {
                    k: os.environ.get(k) for k in _THREAD_PINS
                },
                "lib_versions": _lib_versions(),
                # Per-query stage-metric deltas (first timed pass):
                # shuffle read/write, spill, input/output bytes,
                # executor run time, stage count — the plan-shape
                # record behind each timing (verdict r11 #6). A
                # timing regression with FLAT bytes here is host/env;
                # moving bytes means the plan changed.
                "queries_io": queries_io,
            }
    )
    print(json.dumps(full_record))
    # Persist the FULL record — per-query best AND median maps — to a
    # committed file (verdict r10 missing #5: four drift episodes in
    # five rounds had to be adjudicated from aggregates because the
    # driver's BENCH_rN.json keeps only the compact last stdout line;
    # the ±5% decision rule is per-query, so the per-query values must
    # survive the round). The driver's own bench run refreshes this
    # file and the end-of-round auto-commit lands it in git.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_full_latest.json"),
                  "w") as fh:
            json.dump(full_record, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench
    # Compact record as the VERY LAST stdout line (verdict r7 #1): the
    # driver keeps a finite tail of stdout, and the full line above
    # (best + median maps + protocol prose + per-query IO) can be cut
    # mid-line, losing the headline "value". This duplicate line is
    # small enough to always survive the tail buffer. From r15 it ALSO
    # carries the per-query best map and the core count (verdict r14
    # what's-wrong #1 / next-round #1: PERF_r14 had per_query: {} and
    # an empty scaling table because the driver parses ONLY this last
    # line — the 24-entry map is ~0.9 KB, safely inside the tail
    # buffer, and is an addition: every pre-existing key is unchanged).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "cpus": _effective_cpus,
                "sf": float(sf) if sf else None,
                "total_median": round(sum(medians.values()), 3),
                "r1_comparable_total": r1_total,
                "cpu_calibration_sec": calibration,
                "cpu_calibration_parallel_sec": calibration_parallel,
                **normalized,
                "cpu_calibration_by_phase": {
                    "phase1": phase_probes[0] if phase_probes else None,
                    "phase2": (
                        phase_probes[1] if len(phase_probes) > 1 else None
                    ),
                },
                "compact_record": True,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
