"""connected_components: the driver path (graphs up to
``_LOCAL_CC_MAX_EDGES`` edges) and the distributed star rounds (above
it) must both equal the DuckDB recursive-CTE oracle ``cc_sql``; the
star rounds refuse to answer without a fixpoint; and a small graph
costs a fixed number of Spark jobs whatever its diameter."""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pytest

from bergloom_spark.operators import dedup
from tests.test_dedup_similarity import CC_CAPS


def _graph(seed: int) -> list[tuple[int, int]]:
    """Edges of a random graph made of disjoint pieces with shuffled,
    sparse node ids: a long chain, a star, a cycle, isolated pairs and
    random edges, plus duplicate and reversed copies of some edges and
    self-loops."""
    rng = random.Random(seed)
    ids = rng.sample(range(1, 10**9), 400)
    chain, star, cycle, pairs, rand, loner = (
        ids[:150], ids[150:190], ids[190:215], ids[215:255],
        ids[255:399], ids[399],
    )
    edges = [(chain[i], chain[i + 1]) for i in range(len(chain) - 1)]
    edges += [(star[0], x) for x in star[1:]]
    edges += [(cycle[i], cycle[(i + 1) % len(cycle)]) for i in range(len(cycle))]
    edges += [(pairs[i], pairs[i + 1]) for i in range(0, len(pairs), 2)]
    edges += [(rng.choice(rand), rng.choice(rand)) for _ in range(90)]
    some = rng.sample(edges, 30)
    edges += some + [(b, a) for a, b in some]
    edges += [(x, x) for x in rng.sample(chain + star, 5)] + [(loner, loner)]
    rng.shuffle(edges)
    return edges


def _oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    """``cc_sql`` over ``edges``, less the nodes whose only edges are
    self-loops (connected_components drops self-loops, so it omits
    those nodes; callers map missing nodes to themselves)."""
    con = duckdb.connect()
    con.register(
        "g",
        pa.table(
            {
                "id_a": pa.array([a for a, _ in edges], pa.int64()),
                "id_b": pa.array([b for _, b in edges], pa.int64()),
            }
        ),
    )
    rows = con.execute(dedup.cc_sql("SELECT id_a, id_b FROM g")).fetchall()
    linked = {x for a, b in edges if a != b for x in (a, b)}
    return {node: comp for node, comp in rows if node in linked}


def _components(spark, edges, **kwargs) -> dict[int, int]:
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = dedup.connected_components(df, **kwargs).collect()
    got = {r["node"]: r["component"] for r in out}
    assert len(got) == len(out), "a node appears twice"
    return got


@CC_CAPS
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_both_paths_match_cc_sql(spark, monkeypatch, cap, seed):
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", cap)
    edges = _graph(seed)
    assert _components(spark, edges) == _oracle(edges)


@CC_CAPS
def test_both_paths_on_degenerate_graphs(spark, monkeypatch, cap):
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", cap)
    for edges in ([], [(7, 7)], [(9, 4), (4, 9), (4, 9), (9, 9)]):
        assert _components(spark, edges) == _oracle(edges)
    assert _components(spark, [(9, 4), (9, 9)]) == {4: 4, 9: 4}


def test_star_rounds_raise_without_fixpoint(spark, monkeypatch):
    """A 201-node chain needs more than one star round; returning the
    unconverged edge set would split it into many components."""
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    chain = [(i, i + 1) for i in range(200)]
    with pytest.raises(RuntimeError, match="1 rounds"):
        _components(spark, chain, max_iter=1)
    assert set(_components(spark, chain).values()) == {0}


def test_small_graph_job_count_does_not_grow_with_diameter(spark):
    """Under the default cap a single edge and a 300-edge chain cost the
    same number of Spark jobs: no per-round jobs on small graphs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # job events reach the status store through the listener bus
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty

    def jobs(group, edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        sc.setJobGroup(group, "connected_components job count")
        try:
            dedup.connected_components(df).collect()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        drain()
        return len(tracker.getJobIdsForGroup(group))

    one = jobs("cc-one-edge", [(1, 2)])
    chain = jobs("cc-chain", [(i, i + 1) for i in range(300)])
    assert one == chain, (one, chain)
