"""Self-tests for the benchmark harness, on tiny inputs and without Spark.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import sys
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from harness import Ops, Run, timed_loop  # noqa: E402
from spans import Span, Tracer, files_added, list_files, self_time  # noqa: E402
from stats import tail  # noqa: E402

TINY = 50  # symbols per file


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _keep_rule(path: str) -> tuple[int, int, dict[str, Decimal]]:
    """The pipeline's silver semantics in plain Python: normalize the
    symbol, reject negative volume, keep the highest-volume row per key
    (rows of one file share load time and file name)."""
    raw = rejects = 0
    best: dict[str, tuple[int, Decimal]] = {}
    with open(path, newline="", encoding="utf-8") as fh:
        for row in csv.DictReader(fh):
            raw += 1
            vol = int(row["volume"])
            if vol < 0:
                rejects += 1
                continue
            sym = row["symbol"].strip().upper()
            if sym not in best or vol > best[sym][0]:
                best[sym] = (vol, Decimal(row["close"]))
    return raw, rejects, {s: c for s, (_, c) in best.items()}


def test_daily_file_is_deterministic_per_seed(tmp_path):
    d = dt.date(2024, 3, 4)
    a = gen.land_daily(7, str(tmp_path / "a"), d, n_active=TINY)
    b = gen.land_daily(7, str(tmp_path / "b"), d, n_active=TINY)
    c = gen.land_daily(8, str(tmp_path / "c"), d, n_active=TINY)
    assert _read(a.path) == _read(b.path)
    assert a.closes == b.closes
    assert _read(a.path) != _read(c.path)


def test_daily_truth_matches_the_keep_rule(tmp_path):
    t = gen.land_daily(3, str(tmp_path), dt.date(2024, 1, 2), n_active=TINY)
    raw, rejects, closes = _keep_rule(t.path)
    assert (t.raw_cnt, t.reject_cnt, t.core_cnt) == (raw, rejects, len(closes))
    assert t.raw_cnt == TINY + gen.N_EDGE and t.reject_cnt >= 10
    assert t.closes == closes
    text = _read(t.path).decode()
    assert ",,NULL," in text  # empty and literal-NULL price fields
    assert any(line.split(",")[1].startswith(" ") for line in text.splitlines())


def test_backlog_is_deterministic_and_corrections_follow_originals(tmp_path):
    a = gen.land_backlog(5, str(tmp_path / "a"), 4, n_active=TINY)
    b = gen.land_backlog(5, str(tmp_path / "b"), 4, n_active=TINY)
    names = [os.path.basename(p) for p in a.files]
    assert names == [os.path.basename(p) for p in b.files]
    assert all(_read(p) == _read(q) for p, q in zip(a.files, b.files))
    mtimes = [os.stat(p).st_mtime for p in a.files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    assert len(a.files) == 5 * 4 and len(a.corrected) >= 1
    batch_of = {n: i // 5 for i, n in enumerate(names)}
    for i, n in enumerate(names):
        if "_r" in n:
            original = n.split("_r")[0] + ".csv"
            assert batch_of[original] < i // 5, n
    for d, t in a.corrected.items():
        assert t.closes != a.originals[d].closes
        assert a.expected_closes(d) == _keep_rule(t.path)[2]
    assert a.silver_rows == TINY * len(a.originals)


def test_dashboard_tables_are_deterministic(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    gen.dashboard_tables(11, str(tmp_path / "a"), lines=6_000, parts=200)
    gen.dashboard_tables(11, str(tmp_path / "b"), lines=6_000, parts=200)
    for t in ("lineitem", "part"):
        ta = pq.read_table(str(tmp_path / "a" / f"{t}.parquet"))
        assert ta.equals(pq.read_table(str(tmp_path / "b" / f"{t}.parquet")))
    li = pq.read_table(str(tmp_path / "a" / "lineitem.parquet")).to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in gen.ORACLE_TABLES)


def _span(name, start, end, children=()):
    sp = Span(name, start, "timed", end=end)
    for c in children:
        c.parent = sp
        sp.children.append(c)
    return sp


def test_self_time_subtracts_the_union_of_children():
    leaf = _span("leaf", 0.0, 10.0)
    assert self_time(leaf) == 10.0
    two = _span("p", 0.0, 10.0, [_span("a", 1.0, 3.0), _span("b", 5.0, 6.0)])
    assert self_time(two) == pytest.approx(7.0)
    overlapping = _span("p", 0.0, 10.0, [_span("a", 1.0, 4.0), _span("b", 3.0, 5.0)])
    assert self_time(overlapping) == pytest.approx(6.0)
    spilling = _span("p", 2.0, 10.0, [_span("a", 0.0, 4.0), _span("b", 9.0, 12.0)])
    assert self_time(spilling) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        self_time(Span("open", 0.0, "timed"))


def test_wrapped_calls_nest_and_restore():
    class Mod:
        @staticmethod
        def outer(x):
            return Mod.inner(x) + 1

        @staticmethod
        def inner(x):
            return x * 2

    originals = (Mod.outer, Mod.inner)
    tr = Tracer(lambda: None)
    tr.wrap(Mod, "outer", "m.outer")
    tr.wrap(Mod, "inner", "m.inner")
    assert Mod.outer(3) == 7
    (outer,) = tr.closed("m.outer")
    (inner,) = tr.closed("m.inner")
    assert inner.parent is outer and outer.children == [inner]
    assert 0 <= self_time(outer) <= outer.duration
    tr.restore()
    assert (Mod.outer, Mod.inner) == originals


class _Tracker:
    """A stand-in for ``SparkContext.statusTracker()``: one job per group,
    each running stage 0 with three tasks."""

    def getJobIdsForGroup(self, group):
        return [group]

    def getJobInfo(self, job_id):
        return type("JobInfo", (), {"stageIds": [0]})()

    def getStageInfo(self, sid):
        return type("StageInfo", (), {"numCompletedTasks": 3, "numFailedTasks": 0})()


class _Context:
    def __init__(self, app):
        self.applicationId = app
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def statusTracker(self):
        return _Tracker()


def test_stage_ids_are_told_apart_across_contexts():
    ctx = [_Context("app-1")]
    tr = Tracer(lambda: ctx[0])
    with tr.span("a"):
        pass
    tr.resolve_jobs()
    ctx[0] = _Context("app-2")  # a new context numbers its stages from 0 again
    with tr.span("b"):
        pass
    with tr.span("c"):
        pass
    tr.resolve_jobs()
    a, b, c = tr.spans
    assert (a.jobs, a.tasks) == (1, 3) and (b.jobs, b.tasks) == (1, 3)
    assert (c.jobs, c.tasks) == (1, 0)  # same context as b: the stage is counted once


def test_result_line_without_a_completed_operation(tmp_path):
    run = Run("eod_daily", 1, 0.0, False, str(tmp_path), str(tmp_path))

    def broken(i):
        raise RuntimeError("injected")

    timed_loop(0.0, broken, run.ops)
    assert run.result() == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


@pytest.mark.parametrize(
    "n, index, pct",
    [(1, 0, 100.0), (10, 9, 100.0), (11, 0, 100.0 / 11), (20, 9, 50.0), (100, 89, 90.0)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, index, pct):
    samples = [float(i) for i in range(n)][::-1]  # order must not matter
    value, got_pct, got_n = tail(samples)
    assert value == float(index) and got_pct == pytest.approx(pct) and got_n == n
    if n > 10:
        assert sum(1 for s in samples if s > value) == 10


def test_injected_failure_raises_failed_share():
    clean = Ops()
    timed_loop(0.0, lambda i: 1, clean)
    assert (clean.attempted, clean.failed, clean.failed_share) == (1, 0, 0.0)

    def flaky(i):
        if i == 1:
            raise RuntimeError("injected")
        return 1

    ops = Ops()
    timed_loop(0.05, flaky, ops)
    assert ops.attempted >= 2 and ops.failed == 1
    assert ops.failed_share == pytest.approx(1 / ops.attempted) and ops.failed_share > 0
    assert "injected" in ops.problems[0]
    ops.fail("output check", 1)
    assert ops.failed == 2


def test_listing_delta_counts_new_files_only(tmp_path):
    t = tmp_path / "silver" / "trade_date=2024-01-02"
    t.mkdir(parents=True)
    (t / "part-0.parquet").write_bytes(b"x" * 10)
    before = list_files(str(tmp_path))
    (t / "part-1.parquet").write_bytes(b"y" * 7)
    (t / "_SUCCESS").write_bytes(b"")
    (t / ".part-1.parquet.crc").write_bytes(b"c")
    after = list_files(str(tmp_path))
    assert files_added(before, after, str(tmp_path / "silver")) == (1, 7)
    assert files_added(before, after, str(tmp_path / "bronze")) == (0, 0)


def test_benchmark_json_lists_what_the_runs_print():
    import json

    from harness import E2E_UNITS
    from workloads import layer_units

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer_units()
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert [w["name"] for w in spec["workloads"]] == ["eod_daily", "dashboard", "eod_backfill"]


def test_refuses_a_directory_without_the_engine(tmp_path):
    import shutil
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    shutil.copytree(here, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(here), "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "eod_daily", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
