"""Tests of the benchmark itself; none starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import fnmatch
import hashlib
import json
import os
import sys
from types import SimpleNamespace

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gate  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402
from tracing import JobCounter, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    DECLARED = json.load(fh)


def _digests(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    root = tmp_path_factory.mktemp("gen")
    dirs = {}
    for key, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[key] = gen.data_dir(str(root / key), "analytics-mix", seed)
        gen.generate(dirs[key], seed)
    return dirs


def test_same_seed_gives_byte_identical_tables(tables):
    assert _digests(tables["a"]) == _digests(tables["b"])


def test_other_seed_gives_other_tables(tables):
    a, c = _digests(tables["a"]), _digests(tables["c"])
    seeded = set(gen.ROWS) - {"region", "nation"}  # fixed dimension tables
    assert all(a[f"{t}.parquet"] != c[f"{t}.parquet"] for t in seeded)


def test_input_dir_basename_carries_workload_and_seed(tables):
    assert os.path.basename(tables["a"]) == "bench-analytics-mix-s7"


def test_generated_tables_keep_fixture_shapes(tables):
    import pyarrow.parquet as pq

    for name, rows in gen.ROWS.items():
        assert pq.read_metadata(os.path.join(tables["a"], f"{name}.parquet")).num_rows == rows
    ev = pq.read_schema(os.path.join(tables["a"], "events.parquet"))
    assert str(ev.field("ts").type) == "timestamp[ns]"
    docs = pq.read_table(os.path.join(tables["a"], "documents.parquet")).to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    # planted near-duplicates: copies that differ only in the last token
    heads = {}
    dups = 0
    for t in docs["text"]:
        head = t.rsplit(" ", 1)[0]
        dups += head in heads
        heads[head] = True
    assert dups > 0.03 * len(docs["text"])


def test_injected_failing_op_is_counted_not_fatal():
    def run_op(op, op_id):
        if op == "boom":
            raise RuntimeError("injected")
        return op != "wrong", 0.001

    recs, _, rounds = run.measure([["a", "boom", "wrong", "b"], ["c"]], run_op, 0)
    assert rounds == 1
    assert [r.status for r in recs] == ["ok", "error", "wrong", "ok"]
    assert "injected" in recs[1].error


def test_cache_hit_with_other_rows_counts_as_wrong(tables):
    import pyarrow as pa

    b = object.__new__(run.Bench)
    b.sf_dir = tables["a"]
    b.reg = {"q_x": SimpleNamespace(oracle=None)}  # rows-only oracle check
    b.first_results = {"q_x": (None, [{"k": 1, "v": float("nan")}], None)}
    q = wl.QueryOp("q_x", "operators.aggregates", True)

    b.hit_results = {"q_x": pa.table({"v": [float("nan")], "k": [1]})}
    recs = [run.Rec(q, 0.1, "ok")]
    assert b.gate(recs) == {} and recs[0].status == "ok"

    b.hit_results = {"q_x": pa.table({"k": [2], "v": [float("nan")]})}
    recs = [run.Rec(q, 0.1, "ok"), run.Rec(q, 0.1, "ok")]
    assert "q_x" in b.gate(recs)
    assert [r.status for r in recs] == ["wrong", "wrong"]


def test_jobs_after_a_tagged_call_count_under_no_group():
    class FakeContext:
        def __init__(self):
            self.group, self.jobs = None, []  # jobs: group of each launched job

        def setJobGroup(self, group, description):
            self.group = group

        def setLocalProperty(self, key, value):
            assert key == "spark.jobGroup.id"
            self.group = value

        def statusTracker(self):
            return SimpleNamespace(
                getJobIdsForGroup=lambda g: [i for i, j in enumerate(self.jobs) if j == g],
                getJobInfo=lambda jid: SimpleNamespace(stageIds=[jid]),
                getStageInfo=lambda sid: SimpleNamespace(numCompletedTasks=4),
            )

    sc = FakeContext()
    jobs = JobCounter(sc)
    with jobs.group("collect-0", "collect"):
        sc.jobs.append(sc.group)
    sc.jobs.append(sc.group)  # e.g. a lakehouse commit after the window
    assert sc.group is None
    assert jobs.totals() == {"collect": {"jobs": [1], "stages": [1], "tasks": [4]}}


def test_measure_runs_whole_rounds():
    def rounds():
        while True:
            yield ["x", "y"]

    recs, _, n = run.measure(rounds(), lambda op, i: (True, 0.0), 0)
    assert n == 1 and len(recs) == 2


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 3, 3)
    v = [float(i) for i in range(1, 31)]
    assert run.tail(v) == (30.0, 30, 30)
    v = [float(i) for i in range(1, 121)]
    assert run.tail(v) == (110.0, 110, 120)


def test_clear_staging_matches_only_this_input_set(tmp_path, monkeypatch):
    scratch = tmp_path / ".scratch"
    names = [
        "annindex-v3-bench_analytics_mix_s1",
        "acidtable-bench-analytics-mix-s1",
        "fb-counts-bench-analytics-mix-s1-4242",
        "acidtable-bench-analytics-mix-s10",
        "acidtable-sf0.1",
    ]
    for n in names:
        (scratch / n).mkdir(parents=True)
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    run.clear_staging("bench-analytics-mix-s1")
    assert sorted(os.listdir(scratch)) == [
        "acidtable-bench-analytics-mix-s10", "acidtable-sf0.1"
    ]


def _declared(kind: str) -> dict[str, str]:
    return {d["name"]: d["unit"] for d in DECLARED[kind]}


def test_end_to_end_metrics_are_declared_with_units():
    q = wl.QueryOp("q_agg_hash", "operators.aggregates", True)
    recs = [run.Rec(q, 0.5, "ok"), run.Rec(q, 0.7, "ok")]
    lake = [run.Rec(k, 0.2, "ok") for k in wl.LAKE_ROUND]
    m = run.e2e_metrics(30.0, recs, 1.5, lake, [1.4, 1.6], 1.0, 900.0)
    assert {k: u for k, (_, u) in m.items()} == _declared("end_to_end")
    assert all(v > 0 for v, _ in m.values())


def test_layer_metrics_are_declared_with_units(tmp_path):
    tr = Tracer(True)
    recs = []
    for i, (name, mod) in enumerate([("q_agg_hash", "operators.aggregates"),
                                     ("q_sim_knn", "llm.similarity")]):
        with tr.span(mod, i):
            with tr.span("registry.build", i):
                pass
            with tr.span("exec.collect", i):
                pass
        recs.append(run.Rec(wl.QueryOp(name, mod, False), 0.1, "ok"))
    with tr.span("sources.acid.merge_table", 2):
        pass
    with tr.span("lake.snapshot_read", 3):
        with tr.span("sources.acid.read_table", 3):
            pass
    fake = SimpleNamespace(
        tr=tr,
        jobs=SimpleNamespace(
            totals=lambda: {"build": {"jobs": [1], "stages": [1], "tasks": [4]}}, tag_s=0.0),
        hits=1, fn_calls=2,
        lake=SimpleNamespace(root=str(tmp_path), commit_bytes=[100, 200]),
        acid=SimpleNamespace(read_manifest=lambda root: {"files": ["a", "b"]}),
    )
    m = run.layer_metrics(fake, recs, 1.0, 30.0)
    assert {k: u for k, (_, u) in m.items()} == _declared("per_layer")


def test_every_layer_metric_maps_to_an_end_to_end_metric():
    with open(os.path.join(BENCH, "layers.json")) as fh:
        mapping = json.load(fh)["mapping"]
    e2e = set(_declared("end_to_end"))
    for entry in mapping:
        assert set(entry["moves"]) <= e2e, entry
        assert set(entry["workloads"]) <= {w["name"] for w in DECLARED["workloads"]}
    patterns = [e["metric"] for e in mapping]
    for name in _declared("per_layer"):
        assert any(fnmatch.fnmatchcase(name, p) for p in patterns), name


def test_lake_replay_follows_merge_semantics(tables, tmp_path):
    """Matched keys are replaced or deleted, unmatched ones inserted
    unless flagged for deletion."""
    lt = wl.LakeTable(None, tables["a"], str(tmp_path / "t"), 7)
    n0, _ = lt.expected()
    pdf = lt.source("merge")
    keys = [int(k) for k in pdf["o_orderkey"]]
    untouched = lt.duck.execute(
        "SELECT sum(price) FROM t WHERE o_orderkey NOT IN (SELECT unnest(?))", [keys]
    ).fetchone()[0]
    lt.replay("merge", pdf)
    existing = set(range(wl.LAKE_ROWS))
    rows = list(zip(keys, pdf["_delete"]))
    dropped = sum(1 for k, d in rows if d and k in existing)
    inserted = sum(1 for k, d in rows if not d and k not in existing)
    n1, s1 = lt.expected()
    assert n1 == n0 - dropped + inserted
    assert s1 == pytest.approx(untouched + pdf.loc[~pdf["_delete"], "price"].sum())
