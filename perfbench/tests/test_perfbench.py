"""The benchmark's own tests, at tiny input sizes.

    python -m pytest perfbench/tests -q -p no:cacheprovider

The first three need no Spark; the last runs the table workload end to end
for a few seconds with one engine result corrupted.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import itertools
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from oracle import result_hash  # noqa: E402


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_generators_are_deterministic_per_seed(tmp_path):
    a = gen.write_ping_days(str(tmp_path / "a"), 5, 2, 40)
    b = gen.write_ping_days(str(tmp_path / "b"), 5, 2, 40)
    c = gen.write_ping_days(str(tmp_path / "c"), 6, 2, 40)
    assert a == b and _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    # the ground truth counts rejections, so the checks have something to find
    t = a["truth"][a["days"][0]]
    assert t["rows"] == 40 and 0 < t["kept"] < 40 and t["nested"] > 0

    gen.write_query_tables(str(tmp_path / "qa"), 5, 200, 30)
    gen.write_query_tables(str(tmp_path / "qb"), 5, 200, 30)
    assert _digest(str(tmp_path / "qa")) == _digest(str(tmp_path / "qb"))

    def stream(seed):
        return list(itertools.islice(gen.statement_stream(seed, 500), 200))

    assert stream(5) == stream(5) and stream(5) != stream(6)
    # the kind schedule is the same for every seed; only parameters differ
    assert [k for k, _ in stream(5)] == [k for k, _ in stream(6)]
    assert gen.base_rows(5, 50) == gen.base_rows(5, 50) != gen.base_rows(6, 50)


def test_corrupted_result_is_counted_as_failed():
    from run import Ctx
    from wl_table import Model

    ctx = Ctx(1, "/nonexistent")
    m = Model()
    m.upsert([(1, 10, "g1", 3, 2.5), (2, 20, "g2", 4, 1.25)])
    cols, rows = m.dashboard(0)
    good = [(g, n, s) for g, n, s in rows]
    bad = [(g, n, s + 1 if g == "g1" else s) for g, n, s in rows]
    ctx.verify(result_hash(cols, good, True) == result_hash(cols, rows, True), "good")
    assert ctx.failed == 0
    ctx.verify(result_hash(cols, bad, True) == result_hash(cols, rows, True), "bad")
    assert ctx.failed == 1 and ctx.failures == ["check: bad"]
    # by-value comparison still distinguishes values, not only types
    assert result_hash(["x"], [(6333,)], True) == result_hash(["x"], [(6333.0,)], True)
    assert result_hash(["x"], [(6333,)]) != result_hash(["x"], [(6333.0,)])


def test_metric_names_match_benchmark_json():
    from layers import UNITS
    from run import WORKLOADS, Ctx, end_to_end

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)

    class Wl:
        classes = ("a", "b")

    ctx = Ctx(1, "/nonexistent")
    for cls in ("unit", "a", "b"):
        ctx.sample(cls, 1.0)
    e2e = end_to_end(ctx, Wl, 1.0)
    assert [m["name"] for m in spec["end_to_end"]] == list(e2e)
    assert all(m["unit"] == e2e[m["name"]][1] for m in spec["end_to_end"])
    assert [m["name"] for m in spec["per_layer"]] == list(UNITS)
    assert all(m["unit"] == UNITS[m["name"]] for m in spec["per_layer"])


@pytest.mark.skipif(os.environ.get("PERFBENCH_SKIP_SPARK") == "1", reason="no Spark")
def test_table_run_catches_a_corrupted_engine_result(monkeypatch):
    import run
    import wl_table

    orig = wl_table.TableMixed._sql

    def corrupt(self, sql, tables, views, span):
        df, rows, route_s = orig(self, sql, tables, views, span)
        if span == "lookup":
            rows = rows + [(-1, 0, "g0", 0, 0)]
        return df, rows, route_s

    monkeypatch.setattr(wl_table.TableMixed, "_sql", corrupt)
    monkeypatch.setattr(wl_table, "BASE_ROWS", 2_000)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(["--workload", "table_mixed", "--seed", "3", "--seconds", "6"])
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    assert code == 0
    assert result["failed"] >= 1 and result["correct"] is False
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["end_to_end"]]
    assert list(result["metrics"]) == names
