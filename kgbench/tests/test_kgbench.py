"""Tests of the benchmark itself: each output check fails when fed one
corrupted output, and each workload runs at a tiny size and prints every
metric ``BENCHMARK.json`` names, with its unit.

    python3 -m pytest kgbench/tests -q

Spark-backed; three to six minutes on a 4-core host.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kgbench import checks, inputs, spans, workloads  # noqa: E402

TINY = {
    "kg_maintain": {
        "N_TERMS": 200, "TOUCHED": 3, "N_STRINGS": 300, "N_PAGES": 200,
        "REBUILD_BELOW_LABELS": 100,
    },
    "kg_graph": {
        "N_SUBJECTS": 2000, "N_ENTITIES": 200, "DEPTH": 3, "WIDTH": 5,
        "CHAINS": 5, "CHAIN_LEN": 4,
    },
}


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# pure checks


def test_same_checksums_rejects_one_changed_iteration():
    assert checks.same_checksums([(1, 2), (1, 2)])[0]
    assert not checks.same_checksums([(1, 2), (1, 2), (3, 2)])[0]


def test_precision_recall_rejects_dropped_and_wrong_triples():
    exp = {(f"s{i}", "mappedTo", f"o{i}") for i in range(100)}
    assert checks.precision_recall(set(exp), exp)[0]
    dropped = set(list(exp)[:90])
    assert not checks.precision_recall(dropped, exp)[0]
    relinked = {(s, p, o + "x") if i < 10 else (s, p, o)
                for i, (s, p, o) in enumerate(sorted(exp))}
    assert not checks.precision_recall(relinked, exp)[0]


def test_pagerank_replay_matches_hand_computed_ranks():
    # a -> b, a -> c, b -> c: two rounds of the integer recurrence
    edges = [("a", "b"), ("a", "c"), ("b", "c")]
    r1 = {"a": 150_000, "b": 150_000 + 425_000, "c": 150_000 + 425_000 + 850_000}
    assert checks.pagerank_replay(edges, 1) == r1
    r2 = checks.pagerank_replay(edges, 2)
    assert r2["c"] == 150_000 + (150_000 * 85) // 200 + (575_000 * 85) // 100


def test_rank_fingerprint_rejects_one_changed_rank():
    ranks = checks.pagerank_replay([("a", "b"), ("b", "c"), ("c", "a")], 3)
    bad = dict(ranks, a=ranks["a"] + 1)
    assert checks.rank_fingerprint(ranks) != checks.rank_fingerprint(bad)


def test_cooccurrence_replay_counts_pairs_per_page():
    pairs = [("p1", "a"), ("p1", "b"), ("p1", "b"), ("p2", "a"), ("p2", "b"), ("p3", "c")]
    # one pair (a, b) on two of three pages; a and b each on two pages
    assert checks.cooccurrence_replay(pairs, 64) == (1, 2, 1000 * 2 * 3 // 4)
    assert checks.cooccurrence_replay(pairs, 1)[0] == 0


def test_layered_hierarchy_closure_size_is_analytic():
    rows, size = inputs.layered_hierarchy(5, 4, 3)
    parent = {r["iri"]: next(iter(r["parents"]), None) for r in rows}
    n = 0
    for iri in parent:
        p = parent[iri]
        while p is not None:
            n, p = n + 1, parent[p]
    assert n == size == 3 * 4 * 5 // 2


def test_inputs_repeat_for_a_seed():
    a = inputs.triples_release(9, 400, 50, 1.1, 0.01, 0.005, 0.005)
    b = inputs.triples_release(9, 400, 50, 1.1, 0.01, 0.005, 0.005)
    assert a[0].equals(b[0]) and a[1].equals(b[1]) and a[2] == b[2]
    c = inputs.triples_release(10, 400, 50, 1.1, 0.01, 0.005, 0.005)
    assert not a[0].equals(c[0])


def test_rollup_splits_self_time_and_jobs():
    spans_ = [
        {"id": 0, "name": "iteration", "parent": None, "iter": 0, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "link", "parent": 0, "iter": 0, "start": 1.0, "end": 5.0},
    ]
    task = {"run_s": 2.0, "cpu_s": 0.5, "python": True, "shuffle_bytes": 7,
            "spill_bytes": 0, "peak_mem_bytes": 3}
    jobs = {0: {"tag": "1", "start": 2.0, "end": 4.0, "tasks": [task, task]},
            1: {"tag": None, "start": 6.0, "end": 7.0, "tasks": []}}
    r = spans.rollup(spans_, jobs)
    assert r[1]["self_s"] == 4.0 and r[1]["driver_s"] == 2.0
    assert r[1]["cpu_s"] == 1.0 and r[1]["python_s"] == 3.0 and r[1]["jobs"] == 1
    assert r[1]["shuffle_bytes"] == 14 and r[1]["peak_mem_bytes"] == 3
    assert r[0]["self_s"] == 6.0 and r[0]["driver_s"] == 5.0 and r[0]["jobs"] == 1
    assert r[0]["self_s"] + r[1]["self_s"] == 10.0


# --------------------------------------------------------------------------
# workload checks against corrupted outputs


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ontology_mapper_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    s = get_spark("kgbench-tests", cores=2, shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _tiny(name, spark, tmp_path, monkeypatch):
    from kgbench.run import Ctx

    cls = workloads.WORKLOADS[name]
    for k, v in TINY[name].items():
        monkeypatch.setattr(cls, k, v)
    wl = cls(Ctx(spark, spans.Tracer(False), str(tmp_path), seed=3))
    wl.setup()
    for _ in range(2):
        wl.iteration(False)
        wl.after()
        wl.release_pinned()
    return wl


def _rewrite(wl, name, df):
    df = df.localCheckpoint()
    df.write.mode("overwrite").parquet(wl.path(name))


@pytest.mark.spark
def test_kg_maintain_checks_fail_on_corrupted_outputs(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    wl = _tiny("kg_maintain", spark, tmp_path, monkeypatch)
    wl.checks()
    assert wl.ctx.ops.failed == 0, wl.ctx.ops.failures
    assert wl.ctx.ops.attempted == 5

    got, exp = wl._oracle_sets()
    assert checks.precision_recall(got, exp)[0]
    assert not checks.precision_recall(set(list(got)[: len(got) * 9 // 10]), exp)[0]

    wl.sums.append(((0, 0), wl.sums[-1][1]))
    assert not checks.same_checksums(wl.sums)[0]

    _rewrite(wl, "dropped", wl.read("dropped").limit(wl.read("dropped").count() - 1))
    assert not wl._check_changed()[0]

    _rewrite(wl, "fresh", wl.read("fresh").limit(wl.read("fresh").count() - 1))
    assert not wl._check_recrawl()[0]

    released = wl.read("released")
    _rewrite(wl, "released", released.withColumn(
        "score", F.when(F.col("subj") == released.first()["subj"], F.lit(0.001))
        .otherwise(F.col("score"))))
    assert not wl._check_release()[0]


@pytest.mark.spark
def test_kg_graph_checks_fail_on_corrupted_outputs(spark, tmp_path, monkeypatch):
    wl = _tiny("kg_graph", spark, tmp_path, monkeypatch)
    wl.checks()
    assert wl.ctx.ops.failed == 0, wl.ctx.ops.failures
    good = wl.results[-1]
    corruptions = {
        "diff": dict(good["diff"], stable=good["diff"]["stable"] - 1,
                     rescored=good["diff"]["rescored"] + 1),
        "closure": good["closure"] - 1,
        "components": good["components"] + 1,
        "pagerank": (good["pagerank"][0], good["pagerank"][1] + 1),
        "cooccur": (good["cooccur"][0], good["cooccur"][1] - 1, good["cooccur"][2]),
    }
    for key, bad in corruptions.items():
        wl.results = [dict(good, **{key: bad})]
        wl.ctx.ops.failed = 0
        wl.checks()
        assert wl.ctx.ops.failed == 1, key


# --------------------------------------------------------------------------
# every workload, tiny, prints every named metric with its unit

_RUN = """
import sys
sys.path.insert(0, {root!r})
from kgbench import run, workloads
for k, v in {sizes!r}.items():
    setattr(workloads.WORKLOADS[{name!r}], k, v)
sys.exit(run.main({argv!r}))
"""


@pytest.mark.spark
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(TINY))
def test_tiny_run_prints_every_metric_with_its_unit(name, trace):
    bench = _benchmark()
    assert name in {w["name"] for w in bench["workloads"]}
    argv = ["--workload", name, "--seed", "4", "--seconds", "1", "--trace", str(trace)]
    code = _RUN.format(root=ROOT, sizes=TINY[name], name=name, argv=argv)
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    named = bench["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in named} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if trace:
        for row in detail["trace_iterations"]:
            assert abs(row["layers_self_s"] + row["unattributed_s"] - row["wall_s"]) < 1e-6
    else:
        assert all(result["metrics"][k]["value"] > 0 for k in result["metrics"])
