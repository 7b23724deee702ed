"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark and build an index, so they take a few minutes;
deselect them with ``-k "not smoke"`` for the fast checks only.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, measure  # noqa: E402
from perfbench.serve import BATCH, FILTER_KINDS, N_CORPUS, N_FILTERED, POOL, filtered_queries  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- generator


def test_vectors_are_a_function_of_seed_and_id_only():
    vs = gen.VectorSet(7, 50)
    ids = np.arange(1000)
    whole = gen.VectorSet(7, 50).vectors(ids)
    # any split of the ids into batches (partitions) gives the same rows
    parts = np.concatenate([vs.vectors(ids[i::3]) for i in range(3)])
    order = np.concatenate([ids[i::3] for i in range(3)])
    np.testing.assert_array_equal(parts[np.argsort(order)], whole)
    np.testing.assert_array_equal(vs.a_disp(ids[500:]), vs.a_disp(ids)[500:])


def test_documents_do_not_depend_on_table_size():
    small, large = gen.documents(3, 300), gen.documents(3, 1000)
    assert small["text"] == large["text"][:300]
    assert small["lang"] == large["lang"][:300]


def test_documents_have_duplicates_to_find():
    d = gen.documents(5, 1000)
    assert len(set(d["text"])) < len(d["text"])  # exact duplicates
    assert set(d["lang"]) == {"en", "de", "es", "fr", "zh"}


def test_a_different_seed_gives_different_inputs_of_the_same_shape():
    a, b = gen.VectorSet(1, 50), gen.VectorSet(2, 50)
    ids = np.arange(100)
    assert a.vectors(ids).shape == b.vectors(ids).shape
    assert not np.array_equal(a.vectors(ids), b.vectors(ids))
    assert gen.documents(1, 50)["text"] != gen.documents(2, 50)["text"]
    assert filtered_queries(1, "disp", 20)[1] != filtered_queries(2, "disp", 20)[1]
    assert not np.array_equal(gen.embeddings(1, 10)["embedding"], gen.embeddings(2, 10)["embedding"])


def test_the_same_seed_gives_the_same_inputs():
    a, b = gen.documents(4, 200), gen.documents(4, 200)
    assert all(np.array_equal(np.asarray(a[k]), np.asarray(b[k])) for k in a)
    np.testing.assert_array_equal(gen.VectorSet(4, 9).vectors(np.arange(20)),
                                  gen.VectorSet(4, 9).vectors(np.arange(20)))
    assert filtered_queries(4, "corr", 20)[1] == filtered_queries(4, "corr", 20)[1]


def test_filtered_queries_are_held_out_and_of_one_kind():
    seen = set()
    for kind, (col, n_values) in FILTER_KINDS.items():
        ids, flts = filtered_queries(9, kind, max(N_FILTERED))
        assert ids.min() >= N_CORPUS + POOL + BATCH  # beyond the corpus, pool and batch
        assert {(k, c) for k, c, _ in flts} == {(kind, col)}
        assert all(0 <= v < n_values for _, _, v in flts)
        # a prefix of the traced set is the untraced set
        assert filtered_queries(9, kind, min(N_FILTERED))[1] == flts[:min(N_FILTERED)]
        seen.update(ids.tolist())
    assert len(seen) == len(FILTER_KINDS) * max(N_FILTERED)


# ---------------------------------------------------------------- percentile rule


def test_p90_needs_ten_samples_beyond_it():
    assert measure.p90_or_zero(list(range(99))) == 0.0
    for n in (100, 137, 1000):
        values = list(range(n))
        p90 = measure.p90_or_zero(values)
        assert p90 == measure.percentile(values, 90.0)
        assert sum(v > p90 for v in values) >= 10


def test_percentiles():
    vals = list(range(1, 101))
    assert measure.percentile(vals, 90) == 90
    assert measure.percentile(vals, 50) == 50
    assert measure.median([3, 1, 2]) == 2
    assert measure.median([4, 1, 2, 3]) == 2.5
    assert measure.p90_or_zero(list(range(1, 101))) == 90


def test_warmup_rule():
    assert measure.settled(100.0, 104.0, 0.05)
    assert not measure.settled(100.0, 80.0, 0.05)


def test_self_time_subtracts_children():
    tr = measure.Tracer(True)
    with tr.span("op", "a"):
        with tr.span("child", "a"):
            sum(range(20000))
    selfs = tr.self_times_ms()
    op, child = tr.spans
    assert selfs["op"][0] == pytest.approx(
        (op["end"] - op["start"] - (child["end"] - child["start"])) * 1e3)
    assert selfs["child"][0] == pytest.approx((child["end"] - child["start"]) * 1e3)
    off = measure.Tracer(False)
    with off.span("op", "a"):
        pass
    assert off.spans == []


# ---------------------------------------------------------------- declaration


def test_benchmark_declaration():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]
    from perfbench.run import WORKLOADS

    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "__init__.py"):
        (bench / f).write_text(open(os.path.join(ROOT, "perfbench", f)).read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(_spec()))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert r.returncode != 0
    assert r.stdout == ""


# ---------------------------------------------------------------- smoke runs


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["serve", "pipeline"])
def test_smoke_run_prints_every_declared_metric(workload, trace):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
                        "--seconds", "1", "--trace", str(trace)], cwd=ROOT, capture_output=True,
                       text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().split("\n")[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in _spec()[kind]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
