"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest servebench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402


def _shape(lists):
    return [[(op.kind, op.sql, op.fmt, op.user, op.query_id, op.table, op.rows) for op in ops]
            for ops in lists]


@pytest.mark.parametrize("plan", [wl.plan_dashboard, wl.plan_export, wl.plan_ingest,
                                  wl.plan_library])
def test_same_seed_same_requests_other_seed_other_parameters(plan):
    a, b, c = plan(7), plan(7), plan(8)
    if plan is wl.plan_library:
        assert a == b and sorted(a) == sorted(c) == sorted(wl.LIBRARY_KEYS)
        assert any(plan(s) != a for s in range(8, 20))
        return
    assert _shape(a) == _shape(b)
    assert _shape(a) != _shape(c)
    # the seed moves parameters, not the shape of the work
    assert [[op.kind for op in ops] for ops in a] != [] and len(a) == len(c)


def test_dashboard_mix():
    ops = [op for lst in wl.plan_dashboard(3) for op in lst]
    reads = [op for op in ops if op.kind == "read"]
    replays = [op for op in ops if op.kind == "replay"]
    assert 0.2 < len(replays) / len(ops) < 0.3
    assert 0.25 < sum(op.user is not None for op in reads) / len(reads) < 0.4
    assert all("default." in op.sql for op in reads if op.user)
    issued = [op.query_id for op in reads]
    assert all(op.query_id in issued for op in replays)
    assert all(op.ref and "FORMAT" not in op.ref and "multiIf" not in op.ref for op in reads)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert measure.tail_percentile(list(range(10))) is None
    p, v = measure.tail_percentile([float(x) for x in range(1, 101)])
    assert (p, v) == (90.0, 90.0)
    p, v = measure.tail_percentile([float(x) for x in range(1, 41)])
    assert p == 75.0 and v == 30.0
    assert sum(x > v for x in range(1, 41)) == 10


def test_interpolated_percentile_and_median():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert measure.percentile(vals, 50) == 3.0
    assert measure.percentile(vals, 90) == pytest.approx(4.6)
    assert measure.percentile([2.0, 1.0], 50) == 1.5
    assert measure.percentile([7.0], 90) == 7.0
    assert measure.median(vals) == 3.0


def _span(sid, start, end, parent=None):
    return tracing.Span(sid, f"s{sid}", start, end, parent=parent)


def test_self_time_subtracts_covered_child_intervals_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 5.0, parent=1),     # overlaps child 2: covered 1..5 once
        _span(4, 8.0, 12.0, parent=1),    # runs past the parent: clipped at 10
        _span(5, 1.5, 2.0, parent=2),     # grandchild: only counts against 2
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(0.5)


def test_tracer_parents_and_query_ids():
    t = tracing.Tracer()
    root = t.open("http.request", qid="op-1", root=True)
    child = t.open("dialect.transpile")
    t.close(child)
    t.close(root)
    assert child.parent == root.sid and child.qid == "op-1"
    assert t._stack() == []


def test_checker_flags_wrong_rows():
    want_names, want_rows = ["k", "n", "avg"], [("a", 3, 1.5), ("b", 4, 2.25)]
    good = [["a", 3, 1.5], ["b", 4, 2.25]]
    assert wl.check_rows(["k", "n", "avg"], good, want_names, want_rows) is None
    bad = [["a", 3, 1.5], ["b", 5, 2.25]]
    assert "row 1" in wl.check_rows(["k", "n", "avg"], bad, want_names, want_rows)
    assert wl.check_rows(["k", "n", "avg"], good[:1], want_names, want_rows)
    assert wl.check_rows(["k", "x", "avg"], good, want_names, want_rows)


@pytest.mark.parametrize("fmt", ["JSONCompact", "JSON", "TSV"])
def test_checker_reads_each_dashboard_format(fmt):
    import datetime as dt
    import json

    body = {
        "JSONCompact": json.dumps({"meta": [{"name": "d"}, {"name": "n"}],
                                   "data": [["1995-01-02", 7]]}).encode(),
        "JSON": json.dumps({"meta": [{"name": "d"}, {"name": "n"}],
                            "data": [{"d": "1995-01-02", "n": 7}]}).encode(),
        "TSV": b"d\tn\n1995-01-02\t7\n",
    }[fmt]
    names, rows = wl.parse_payload(body, fmt)
    assert wl.check_rows(names, rows, ["d", "n"], [(dt.date(1995, 1, 2), 7)]) is None
    assert wl.check_rows(names, rows, ["d", "n"], [(dt.date(1995, 1, 3), 7)]) is not None


def test_export_checksums_flag_a_changed_value():
    pa = pytest.importorskip("pyarrow")
    cols = ("k", "x", "s")
    types = {"k": "BIGINT", "x": "DOUBLE", "s": "VARCHAR"}
    table = pa.table({"k": [1, 2, 3], "x": [0.05, 1.25, 10.0], "s": ["ab", "c", ""]})
    assert wl.checksums(table, cols, types) == [3, 6, 5 + 125 + 1000, 3]
    csv_body = b"k,x,s\n1,0.05,ab\n2,1.25,c\n3,10.0,\"\"\n"
    assert wl.checksums(wl.payload_table(csv_body, "CSV"), cols, types)[:3] == [3, 6, 1130]
    wrong = pa.table({"k": [1, 2, 3], "x": [0.05, 1.26, 10.0], "s": ["ab", "c", ""]})
    assert wl.checksums(wrong, cols, types) != wl.checksums(table, cols, types)


def test_client_rate_is_per_client_amount_over_last_end():
    recs = [{"client": 0, "end": 1.0, "v": 1}, {"client": 0, "end": 2.0, "v": 1},
            {"client": 1, "end": 4.0, "v": 2}]
    assert run.client_rate(recs, lambda r: r["v"]) == pytest.approx(2 / 2.0 + 2 / 4.0)


def test_steal_pct_from_proc_stat_deltas():
    assert measure.steal_pct((100, 10), (200, 15)) == pytest.approx(5.0)
    assert measure.steal_pct((100, 10), (100, 10)) == 0.0


def test_client_percentile_weighs_clients_equally():
    fast = [{"client": 0, "latency_s": x} for x in (1.0, 1.0, 1.0, 1.0, 1.0, 1.0)]
    slow = [{"client": 1, "latency_s": x} for x in (3.0, 3.0)]
    assert run.client_percentile(fast + slow, 50) == pytest.approx(2000.0)


def test_grouped_merges_each_clients_consecutive_requests():
    recs = [{"client": c, "end": float(i), "latency_s": 1.0, "rows": 10, "ok": i != 4}
            for i, c in enumerate([0, 1, 0, 1, 0, 1])]
    ops = run.grouped(recs, 3)
    assert [(o["client"], o["latency_s"], o["rows"], o["ok"], o["end"]) for o in ops] == [
        (0, 3.0, 30, False, 4.0), (1, 3.0, 30, True, 5.0)]
    assert run.grouped(recs, 1) is recs


def test_ingest_plan_is_one_list_per_writer_then_the_reader():
    lists = wl.plan_ingest(5)
    assert len(lists) == wl.INGEST_WRITERS + 1
    assert [{op.table for op in ops} for ops in lists[:-1]] == [{t} for t in wl.INGEST_TABLES]
    (count,) = lists[-1]
    assert count.kind == "count" and all(t in count.sql for t in wl.INGEST_TABLES)


def test_reader_flags_a_count_that_goes_back(monkeypatch):
    import json
    import types

    t0, t1 = wl.INGEST_TABLES
    bodies = iter([{"data": [[t0, 5], [t1, 5]]}, {"data": [[t0, 7], [t1, 6]]},
                   {"data": [[t0, 4], [t1, 6]]}])
    monkeypatch.setattr(run, "http_get",
                        lambda *a, **k: (200, json.dumps(next(bodies)).encode(), 0.0, 0.0))
    w = run.Ingest(1, None)
    srv, op = types.SimpleNamespace(http_port=0), w.lists[-1][0]
    assert w.read(srv, op, "a")["ok"] and w.read(srv, op, "b")["ok"]
    rec = w.read(srv, op, "c")
    assert not rec["ok"] and "went back from 7 to 4" in rec["error"]


def test_end_to_end_reports_exactly_the_declared_metrics():
    recs = [{"client": c, "end": 1.0 + i, "latency_s": 0.5, "rows": 10, "ok": True}
            for i, c in enumerate([0, 1, 0, 1])]
    values = run.end_to_end({"records": recs, "group": 1, "setup_s": 12.0})
    assert set(values) == set(run.metric_units("end_to_end"))
    assert all(v > 0 for v in values.values())


def test_stop_descendants_ends_an_orphan_in_its_own_process_group():
    # like PySpark's worker daemon: a grandchild that leaves the process
    # group and outlives its parent
    script = f"""
import os, subprocess, sys
sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
import measure
measure.become_subreaper()
pid = int(subprocess.run([sys.executable, "-c",
    "import subprocess; print(subprocess.Popen(['sleep', '60'], start_new_session=True, "
    "stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).pid)"],
    capture_output=True, text=True, check=True).stdout)
assert pid in measure.descendants(os.getpid())
assert measure.stop_descendants(timeout=10)
print(os.path.exists(f"/proc/{{pid}}"))
"""
    import subprocess

    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False"
