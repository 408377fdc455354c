"""Unit tests for the benchmark's own arithmetic and checkpoint readers.

    python3 -m pytest perfbench -q -p no:cacheprovider

No Spark session is started; checkpoint layouts are written by hand in
the shape Structured Streaming leaves them.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from tracing import Span, Tracer, covered, median, percentile, self_times  # noqa: E402
from workloads import FileFeed, commit_times, event_latencies, file_batches  # noqa: E402


def test_percentile_matches_numpy_linear_rule():
    rng = np.random.default_rng(7)
    for n in (1, 2, 5, 100, 1001):
        xs = rng.normal(size=n).tolist()
        for q in (0, 1, 25, 50, 90, 99, 100):
            assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 10.0]) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_p99_of_a_thousand_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1000)]
    p99 = percentile(xs, 99)
    assert sum(1 for x in xs if x > p99) == 10


def test_covered_merges_overlaps_once():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert covered([(0, 10), (2, 3), (4, 5)]) == 10.0


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, "r", 1)


def test_self_time_subtracts_children_and_clips_them():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 4.0, parent=0),  # overlaps its sibling: counted once
        _span(3, 9.0, 12.0, parent=0),  # runs past its parent: clipped at 10
        _span(4, 1.5, 2.5, parent=1),  # a grandchild does not touch span 0
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_spans_and_records_nothing_when_disabled():
    class Box:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = Tracer()
    mod = sys.modules[__name__]
    mod.Box = Box
    try:
        t.install({f"{__name__}:Box.outer": "outer", f"{__name__}:Box.inner": "inner"})
        assert Box().outer() == 2
        assert t.spans == []
        t.enabled, t.run_id = True, "run1"
        assert Box().outer() == 2
        inner, outer = t.spans
        assert (outer.name, inner.name) == ("outer", "inner")
        assert inner.parent == outer.sid and outer.parent is None
        assert inner.run_id == outer.run_id == "run1"
    finally:
        t.uninstall()
        del mod.Box
    assert t._patched == []


def _write_log(path, entries, version="v1"):
    with open(path, "w") as f:
        f.write(version + "\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_file_batches_reads_deltas_and_compactions(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(name, bid):
        return {"path": f"file:///x/drop/{name}", "timestamp": 1, "batchId": bid, "action": "add"}

    # compaction at batch 9 rolls up 0..9; 10 and 11 are plain deltas
    _write_log(log / "9.compact", [entry(f"f{b:06d}.csv", b) for b in range(10)])
    _write_log(log / "10", [entry("f000010.csv", 10), entry("f000011.csv", 10)])
    _write_log(log / "11", [entry("f000012.csv", 11)])
    (log / ".11.crc").write_text("ignored")
    (log / ".12.tmp").write_text("ignored")
    fb = file_batches(str(tmp_path))
    assert fb["f000003.csv"] == 3
    assert fb["f000011.csv"] == 10
    assert fb["f000012.csv"] == 11
    assert len(fb) == 13
    assert file_batches(str(tmp_path / "missing")) == {}


def test_commit_times_are_commit_file_mtimes(tmp_path):
    commits = tmp_path / "commits"
    commits.mkdir()
    for bid, t in ((0, 1000.0), (1, 1002.5)):
        p = commits / str(bid)
        p.write_text('v1\n{"nextBatchWatermarkMs":0}')
        os.utime(p, (t, t))
    (commits / ".1.crc").write_text("x")
    assert commit_times(str(tmp_path)) == {0: 1000.0, 1: 1002.5}


def test_event_latency_is_commit_minus_each_events_due_time():
    feed = FileFeed(["x"] * 40, per_file=10, rate=10.0, stage="", drop="", t0=100.0)
    assert feed.n_files == 4
    assert feed.file_due(0) == pytest.approx(100.9)  # due with its last event
    fb = {feed.name_of(0): 0, feed.name_of(1): 0, feed.name_of(2): 1, feed.name_of(3): 1}
    ct = {0: 103.0, 1: 105.0}
    lat = event_latencies(feed, fb, ct, lo=101.0, hi=103.0)
    # events 10..29 are due in [101, 103): 10..19 committed with batch 0
    assert len(lat) == 20
    assert lat[0] == pytest.approx(103.0 - 101.0)
    assert lat[10] == pytest.approx(105.0 - 102.0)
    assert lat[-1] == pytest.approx(105.0 - 102.9)


def test_inputs_are_a_function_of_the_seed():
    a, b = gen.Replica(5, n=1000), gen.Replica(5, n=1000)
    offs = gen.replica_offsets(5, 2)
    order = gen.permutation(2000, 5)
    assert gen.csv_lines(a, offs, order) == gen.csv_lines(b, offs, order)
    assert gen.csv_lines(gen.Replica(6, n=1000), offs, order) != gen.csv_lines(a, offs, order)
    assert len(set(gen.replica_offsets(5, 8).tolist())) == 8


def test_wire_lines_match_the_typed_rows():
    rep = gen.Replica(3, n=200)
    offs = gen.replica_offsets(3, 2)
    order = gen.permutation(400, 3)
    times = gen.feed_times(400, 5000, 3)
    for start_ms in (None, times):
        lines = gen.csv_lines(rep, offs, order, start_ms)
        rows = gen.typed_table(rep, offs, order, start_ms).to_pylist()
        assert len(lines) == len(rows) == 400
        for line, row in zip(lines, rows):
            f = line.split(",")
            assert len(f) == 6
            # milliseconds, never microseconds: the decoder's format
            assert f[0] == row["start_time"].strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
            assert f[1] == row["measuring_probe_name"]
            assert f[2] == ("" if row["imsi"] is None else str(row["imsi"]))
            assert f[3] == ("" if row["msisdn"] is None else str(row["msisdn"]))
            assert f[4] == row["ms_ip_address"]
            assert int(f[5]) == row["unique_cdr_id"]


def test_feed_times_follow_the_schedule_on_one_day():
    t = gen.feed_times(50_000, 5000, 1)
    due = gen.LIVE_EPOCH_MS + np.arange(50_000) * 1000 // 5000
    assert ((due - t) >= 0).all() and ((due - t) < 1000).all()
    days = (t // 86_400_000).astype(int)
    assert len(set(days.tolist())) == 1
