"""Self-tests for the benchmark's own code, on tiny inputs and without
Spark:  python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, querymix, stats, wl_dedupe, wl_ingest
from perfbench.harness import Outcome, collapsed_ratio
from perfbench.tracer import Span, Tracer, self_times


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def _gen(tmp_path, name, *argv):
    out = str(tmp_path / name)
    assert gen.main([*argv, "--out", out]) == 0
    with open(out + ".manifest.json") as f:
        return _files(out), json.load(f)


@pytest.mark.parametrize("argv", [
    ["backlog", "--rows", "300", "--files", "3"],
    ["span", "--spans", "3", "--rows", "40", "--span-s", "86400", "--keep-sample", "5"],
])
def test_generator_same_seed_same_output(tmp_path, argv):
    a_files, a_man = _gen(tmp_path, "a", *argv, "--seed", "7")
    b_files, b_man = _gen(tmp_path, "b", *argv, "--seed", "7")
    c_files, _ = _gen(tmp_path, "c", *argv, "--seed", "8")
    assert a_files == b_files and a_man == b_man
    assert a_files != c_files
    # no temp file left behind: every file was renamed into place
    assert not [n for n in a_files if n.startswith(".")]


def test_generator_manifest_matches_lines(tmp_path):
    files, man = _gen(tmp_path, "a", "backlog", "--rows", "2000", "--files", "2", "--seed", "3")
    lines = b"".join(files.values()).decode().splitlines()
    valid, bad = [], 0
    for line in lines:
        try:
            valid.append(json.loads(line))
        except json.JSONDecodeError:
            bad += 1
    keys = sorted({int(r["consensusTimestamp"]) for r in valid})
    assert len(lines) == man["lines"]
    assert bad == man["malformed"] > 0
    assert keys == man["keys"] and len(keys) == 2000
    assert len(valid) - len(keys) == man["replays"] > 0
    fees = {int(r["consensusTimestamp"]): int(r["transaction"]["body"]["transactionFee"])
            for r in valid}
    assert man["checksum"] == gen.checksum(fees.items())
    assert [fees[k] for k in keys] == man["fees"]


def test_events_table_same_seed_same_rows(tmp_path):
    import pyarrow.parquet as pq

    tables = []
    for name, seed in (("a", "5"), ("b", "5"), ("c", "6")):
        out = tmp_path / name
        assert gen.main(["events", "--rows", "500", "--seed", seed, "--out", str(out)]) == 0
        tables.append(pq.read_table(out / "events.parquet"))
    a, b, c = tables
    assert a.equals(b) and not a.equals(c)
    assert a.num_rows == 500
    assert a.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]


def test_open_loop_keys_are_due_times(tmp_path):
    files, man = _gen(tmp_path, "o", "open", "--rate", "50", "--tick-s", "0.1",
                      "--duration-s", "0.3", "--seed", "1")
    assert man["valid_rows"] == 15 and man["files"] == 3
    keys = man["keys"]
    assert keys[0] > man["t0_ns"] and keys[-1] == man["t0_ns"] + 3 * 10**8
    assert 0 <= man["late_max_s"] < 0.1


def test_percentile_nearest_rank():
    assert stats.rank(10_000, 99.9) == 9_990
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n,q", [
    (10_000, 99.9), (9_999, 99.0), (1_000, 99.0), (999, 95.0), (200, 95.0),
    (100, 90.0), (40, 75.0), (20, 50.0), (19, None), (1, None),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, q):
    assert stats.tail_percentile(n, wanted=99.9) == q
    if q is not None:
        assert n - stats.rank(n, q) >= stats.MIN_BEYOND


def test_tail_percentile_caps_at_wanted():
    assert stats.tail_percentile(100_000) == 99.0


def test_self_time_subtracts_union_of_children():
    parent = Span(1, "p", 0.0, 10.0, None, 1, {})
    spans = [
        parent,
        Span(2, "a", 1.0, 3.0, 1, 1, {}),
        Span(3, "b", 2.0, 5.0, 1, 1, {}),   # overlaps a: [1, 5] counted once
        Span(4, "c", 9.0, 12.0, 1, 1, {}),  # clipped to the parent: [9, 10]
        Span(5, "d", 2.5, 2.75, 3, 1, {}),  # grandchild: not the parent's child
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[3] == pytest.approx(2.75)
    assert st[2] == pytest.approx(2.0)
    assert st[5] == pytest.approx(0.25)


def test_tracer_nests_spans_and_shares_trace_id():
    tr = Tracer(enabled=True)
    with tr.span("root", new_trace=True) as r:
        with tr.span("child") as c:
            pass
    with tr.span("other", new_trace=True) as o:
        pass
    assert c.parent == r.span_id and c.trace_id == r.trace_id
    assert o.trace_id != r.trace_id and o.parent is None
    assert set(tr.self_time_by_name()) == {"root", "child", "other"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as s:
        tr.add_span("y", 0.0, 1.0, None)
    assert s is None and tr.spans == []


def test_line_fit_recovers_batch_cost():
    rows_k = [0.0, 1.0, 5.0, 20.0]
    cost = [1.1 + 0.06 * x for x in rows_k]
    fixed, per_krow = stats.line_fit(rows_k, cost)
    assert fixed == pytest.approx(1.1) and per_krow == pytest.approx(0.06)
    with pytest.raises(ValueError):
        stats.line_fit([1.0], [2.0])
    with pytest.raises(ValueError):
        stats.line_fit([2.0, 2.0], [1.0, 3.0])


def test_spread_is_iqr_over_median():
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5)


def test_collapsed_ratio():
    m = {"lines": 130, "malformed": 10, "replays": 20}
    assert collapsed_ratio([m], landed=100) == 1.0
    assert collapsed_ratio([m], landed=120) == 0.0
    assert collapsed_ratio([{"lines": 5, "malformed": 0, "replays": 0}], 5) == 0.0


@pytest.mark.parametrize("late_s,growth,failures", [
    (0.01, -0.03, {}),
    (wl_ingest.GEN_LATE_MAX_S, 0.0, {"steady.gen_late": 1}),
    (0.01, 0.3, {"steady.backlog_growth": 1}),
    (0.5, 0.3, {"steady.gen_late": 1, "steady.backlog_growth": 1}),
])
def test_open_loop_validity_counts_failures(late_s, growth, failures):
    out = Outcome()
    wl_ingest.check_open_loop(out, {"late_max_s": late_s}, growth)
    assert out.failed == len(failures)
    assert out.notes.get("failures", {}) == failures


def test_query_digest_ignores_row_and_column_order():
    a = querymix.digest(["x", "y"], [(1, 2.5), (3, None)])
    b = querymix.digest(["y", "x"], [(None, 3), (2.5, 1)])
    assert a == b and a[0] == 2 and a[1] == ["x", "y"]
    assert querymix.digest(["x", "y"], [(1, 2.5), (3, 0.0)]) != a
    assert querymix.digest(["x", "y"], [(1, 2.5)]) != a


def test_query_mix_layers_are_in_benchmark_json():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(querymix.layer_names()) <= names
    assert len(querymix.ENTRIES) == len(set(querymix.ENTRIES))


def test_dedupe_cycle_count_is_fixed_by_seconds():
    assert wl_dedupe.cycle_count(1) == wl_dedupe.MIN_CYCLES
    assert wl_dedupe.cycle_count(60) == 10
