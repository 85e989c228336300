"""Self-tests of the benchmark: seeded inputs, output checkers, metric names.

    python3 -m pytest perfbench -q

The last test runs the benchmark end to end, untraced and traced (about
two minutes); the others need no Spark.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.run import betainc, e2e_metrics, layer_metrics, percentile_tail, quantile
from perfbench.trace import Tracer
from perfbench.workloads import HEADLINE, CatalogQueries, PlanDispatch, Workload

ROOT = Path(__file__).resolve().parent.parent
DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())


def _generate(root: Path, seed: int) -> None:
    gen.gen_tables(root / "data", seed)
    gen.gen_extract(root / "data", root, seed)
    gen.gen_acid(root / "data", root, seed)
    gen.gen_catalog_order(root, seed, HEADLINE)


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_one_seed_gives_byte_identical_inputs(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        _generate(tmp_path / name, seed)
    a, b, c = (_files(tmp_path / n) for n in "abc")
    assert a == b
    assert a["data/orders.parquet"] != c["data/orders.parquet"]


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    gen.gen_tables(root / "data", 3)
    return root


def _fake_plans(tmp_path: Path, landed: dict[str, int]) -> PlanDispatch:
    w = PlanDispatch(None, tmp_path, tmp_path, tmp_path, 0, None)
    w.orch = SimpleNamespace(engine=SimpleNamespace(config=SimpleNamespace(target_root=str(tmp_path / "lake"))))
    w.landed = landed
    return w


def test_lake_checker_catches_a_dropped_row(tmp_path, inputs):
    orders = pq.read_table(str(inputs / "data" / "orders.parquet")).slice(0, 500)
    target = tmp_path / "lake" / "iqflat" / "dba" / "orders"
    target.mkdir(parents=True)
    pq.write_table(orders, str(target / "part-0.parquet"))
    good = _fake_plans(tmp_path, {"iqflat_orders": 500})
    good.check_lake()
    assert good.problems == []
    pq.write_table(orders.slice(1), str(target / "part-0.parquet"))  # drop a row
    bad = _fake_plans(tmp_path, {"iqflat_orders": 500})
    bad.check_lake()
    assert bad.problems == ["lake iqflat_orders: 499 rows, expected 500"]


def test_catalog_checker_catches_a_wrong_oracle_count(inputs):
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    counts = gen.oracle_counts(inputs / "data", oracles, HEADLINE)
    assert set(counts) == set(HEADLINE)
    w = CatalogQueries(None, inputs / "data", inputs, inputs, 0, None)
    w.expected = dict(counts)
    for name, n in counts.items():
        w.verify(name, n)
    assert w.problems == []
    w.expected["q1_pricing_summary"] += 1
    w.verify("q1_pricing_summary", counts["q1_pricing_summary"])
    assert len(w.problems) == 1 and "q1_pricing_summary" in w.problems[0]


def test_acid_replay_tracks_every_op(inputs, tmp_path):
    meta = gen.gen_acid(inputs / "data", tmp_path, 3)
    ops = [op for block in meta["blocks"][:2] for op in block]
    replay = gen.replay_acid(tmp_path, meta["base"], ops)
    rows = [r["state"][0] for r in replay]
    assert rows[-1] == len(gen.acid_keys_at(tmp_path, meta["base"], ops))
    assert all(r["expect"] is not None for r, op in zip(replay, ops)
               if op["op"] in ("point", "range", "full", "travel"))


def test_quantile_is_the_harrell_davis_estimate():
    assert abs(betainc(2, 3, 0.4) - 0.5248) < 1e-12  # closed form: 1 - 0.6**4 - 4 * 0.4 * 0.6**3
    assert quantile([3.0], 0.5) == 3.0
    assert abs(quantile([2.0] * 7, 0.5) - 2.0) < 1e-12
    xs = [1.0, 2.0, 4.0, 8.0, 16.0]
    assert 4.0 < quantile(xs, 0.5) < 8.0  # every sample has weight: the outer ones pull it up
    assert abs(quantile([-x for x in xs], 0.5) + quantile(xs, 0.5)) < 1e-9  # symmetric weights
    assert percentile_tail([1.0] * 20)[1] == 50.0
    value, pct = percentile_tail(list(range(40)))
    assert pct == 75.0 and 27 < value < 31


class _Stub(Workload):
    name = "catalog_queries"

    def stored_bytes(self):
        return 5.0

    def input_bytes(self):
        return 10.0


def test_printed_metric_names_are_the_declared_ones():
    tracer = Tracer("pkg")
    w = _Stub(None, Path("."), Path("."), Path("."), 0, tracer)
    for i, name in enumerate(HEADLINE * 2):
        with tracer.op_span(i, "op.entry"):
            with tracer.span("sources.registry.read_parquet"):
                pass
        w.ops.append({"kind": "entry", "cls": "read" if i % 2 else "write", "lat": 0.1 + i / 100,
                      "rows": 3, "ok": True, "groups": [f"op{i}", f"op{i}b"], "entry": name,
                      "build": 0.01, "exec": 0.09})
    e2e, _ = e2e_metrics(w, wall=4.0, setup_s=1.0, rss_mb=100.0)
    layer, table = layer_metrics(w, tracer, {}, lambda groups: (0, set()), 4, HEADLINE)
    assert set(e2e) == {m["name"] for m in DECLARED["end_to_end"]}
    assert set(layer) == {m["name"] for m in DECLARED["per_layer"]}
    assert any("unattributed" in line for line in table)


def test_benchmark_runs_end_to_end_and_prints_the_declared_metrics():
    """One short untraced and one traced run."""
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "extract_plans",
             "--seed", "1", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert set(result["metrics"]) == {m["name"] for m in DECLARED[section]}
