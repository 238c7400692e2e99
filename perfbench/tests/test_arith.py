"""Tests for the benchmark's own arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import proc  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402


# -- the tail-percentile rule ---------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))                      # 100 samples
    p, value, n = stats.tail(xs)
    assert (p, value, n) == (90, 90.0, 100)       # ranks 91..100 beyond
    assert sum(x > value for x in xs) == 10


def test_tail_picks_highest_admissible_percentile():
    xs = [float(i) for i in range(37)]
    p, value, n = stats.tail(xs)
    assert n == 37
    assert sum(x > value for x in xs) >= 10
    # one percentile higher would leave fewer than ten beyond
    rank_up = -(-(p + 1) * n // 100)
    assert n - rank_up < 10


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([3.0, 1.0, 2.0] * 4)[2] == 12


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0] * 5
    assert stats.tail(xs) == stats.tail(sorted(xs))


# -- self time with overlapping children ----------------------------------

def test_self_time_counts_overlap_once():
    # children [1,4] and [3,6] overlap on [3,4]: covered = 5, not 6
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]) == 5.0


def test_self_time_clips_children_to_parent():
    assert stats.self_time(2.0, 5.0, [(0.0, 3.0), (4.0, 9.0)]) == 1.0


def test_self_time_nested_and_disjoint_children():
    kids = [(1.0, 2.0), (1.2, 1.8), (5.0, 7.0), (6.0, 6.5)]
    assert stats.self_time(0.0, 10.0, kids) == pytest.approx(7.0)


def test_tracer_self_times_use_child_spans():
    t = Tracer()
    t.enabled = True
    outer = t.start("outer")
    inner = t.start("inner")
    t.finish(inner)
    t.finish(outer)
    outer.start, outer.end = 0.0, 10.0
    inner.start, inner.end = 2.0, 5.0
    got = t.self_times()
    assert got["outer"] == pytest.approx(7.0)
    assert got["inner"] == pytest.approx(3.0)
    assert inner.parent == outer.sid


def test_tracer_parents_other_thread_span_to_open_caller():
    import threading

    t = Tracer()
    t.enabled = True
    t.qid = 7
    caller = t.start("client")
    seen = {}

    def serve():
        s = t.start("server")
        t.finish(s)
        seen["span"] = s

    th = threading.Thread(target=serve)
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    t.finish(caller)
    assert seen["span"].parent == caller.sid
    assert seen["span"].qid == 7


# -- memory summed over a process tree -------------------------------------

def _fake_proc(root, tree: dict, pss: dict):
    for pid, kids in tree.items():
        task = root / str(pid) / "task" / str(pid)
        task.mkdir(parents=True)
        (task / "children").write_text(" ".join(map(str, kids)))
        (root / str(pid) / "smaps_rollup").write_text(
            f"00400000-7ffd0000 ---p 00000000 00:00 0  [rollup]\n"
            f"Rss:            999999 kB\nPss:            {pss[pid]} kB\n"
            f"Pss_Anon:            1 kB\n")


def test_tree_pss_sums_every_descendant(tmp_path):
    # 10 → 11 (jvm) → {12, 13} (python workers); 13 → 14
    tree = {10: [11], 11: [12, 13], 12: [], 13: [14], 14: []}
    pss = {10: 100, 11: 2000, 12: 30, 13: 40, 14: 5}
    _fake_proc(tmp_path, tree, pss)
    assert sorted(proc.descendants(10, str(tmp_path))) == [11, 12, 13, 14]
    assert proc.tree_pss_kb(10, str(tmp_path)) == 2175


def test_tree_pss_skips_processes_that_exited(tmp_path):
    tree = {1: [2, 3], 2: [], 3: []}
    _fake_proc(tmp_path, tree, {1: 10, 2: 20, 3: 30})
    (tmp_path / "3" / "smaps_rollup").unlink()  # gone between list and read
    assert proc.tree_pss_kb(1, str(tmp_path)) == 30


def test_tree_pss_of_this_process_is_positive():
    assert proc.tree_pss_kb() >= proc.pss_kb(os.getpid()) > 0


def test_peak_tree_memory_keeps_the_largest_sample():
    peak = proc.PeakTreeMemory(interval_s=0.01).start()
    ballast = bytearray(64 * 1024 * 1024)     # touched: resident
    for i in range(0, len(ballast), 4096):
        ballast[i] = 1
    peak.sample()
    high = peak.peak_kb
    del ballast
    peak.stop()
    assert peak.peak_kb >= high >= 64 * 1024
