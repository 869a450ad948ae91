"""Tests of the benchmark harness itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import datagen, stats  # noqa: E402
from perfbench.tracing import Span, Tracer, covered, self_times  # noqa: E402
from perfbench.workloads import Checks, Unit, op_medians, summarize, tally  # noqa: E402


# -- percentiles ----------------------------------------------------------


@pytest.mark.parametrize(
    "n, q",
    [(1000, 99.0), (200, 95.0), (100, 90.0), (99, 75.0), (40, 75.0), (20, 50.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    samples = [float(i) for i in range(n)]
    got_q, value, n_beyond = stats.tail_percentile(samples)
    assert got_q == q
    assert n_beyond >= 10
    assert n_beyond == sum(1 for s in samples if s > value)
    # the next rung up would leave fewer than ten beyond it
    higher = [r for r in stats.TAIL_LADDER if r > got_q]
    if higher:
        assert stats.beyond(samples, min(higher)) < 10


def test_tail_percentile_none_when_too_few_samples():
    assert stats.tail_percentile([float(i) for i in range(19)]) is None


def test_percentile_nearest_rank_with_ties():
    samples = [1.0] * 10 + [5.0] * 10
    assert stats.percentile(samples, 50) == 1.0
    assert stats.percentile(samples, 90) == 5.0
    assert stats.beyond(samples, 90) == 0


# -- self time ------------------------------------------------------------


def _span(i, start, end, parent=None, thread="main", detached=False):
    return Span(i, f"s{i}", start, end, parent, None, thread, detached)


def test_covered_takes_the_union_clipped_to_the_parent():
    assert covered(0, 10, [(2, 6), (4, 8)]) == 6
    assert covered(0, 10, [(8, 12), (-3, 1)]) == 3
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_with_children_overlapping_on_other_threads():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 2.0, 6.0, parent=1, thread="t1"),
        _span(3, 4.0, 8.0, parent=1, thread="t2"),  # overlaps span 2
        _span(4, 9.0, 12.0, parent=1, thread="t3"),  # runs past the parent
        _span(5, 1.0, 9.5, parent=1, thread="job", detached=True),  # not waited for
        _span(6, 2.5, 3.0, parent=2, thread="t1"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 6.0 - 1.0)  # union [2,8] + [9,10]
    assert st[2] == pytest.approx(4.0 - 0.5)
    assert st[5] == pytest.approx(8.5)


def test_tracer_records_cross_thread_children_and_self_time():
    tracer = Tracer()
    with tracer.span("parent", request="r1") as parent:

        def child(delay):
            with tracer.span("child", parent=parent):
                time.sleep(delay)

        threads = [threading.Thread(target=child, args=(0.2,)) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()
        time.sleep(0.1)
    kids = [s for s in tracer.spans if s.name == "child"]
    assert len(kids) == 2
    assert all(k.parent == parent.id and k.request == "r1" for k in kids)
    assert {k.thread for k in kids} != {parent.thread}
    st = self_times(tracer.spans)
    union = covered(parent.start, parent.end, [(k.start, k.end) for k in kids])
    assert st[parent.id] == pytest.approx(parent.duration - union)
    # the two children overlap, so the union is well short of their sum
    assert union < sum(k.duration for k in kids) * 0.75
    assert st[parent.id] >= 0.09


def test_wrap_and_uninstall_restore_the_attribute():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tracer = Tracer()
    original = Mod.f
    tracer.wrap(Mod, "f", "mod.f")
    assert Mod.f(1) == 2
    tracer.uninstall()
    assert Mod.f is original
    assert [s.name for s in tracer.spans] == ["mod.f"]


# -- error rate -----------------------------------------------------------


def test_error_rate_counts_failed_operations_and_checks():
    units = [
        Unit(1.0, [0.1, 0.2], 2.0, {"attempted_ops": 3, "failed_ops": 1}),
        Unit(1.0, [0.1], 1.0, {"attempted_ops": 2, "failed_ops": 0}),
    ]
    checks = Checks()
    checks.expect(True, "ok")
    checks.expect(False, "rows differ")
    checks.expect(True, "ok")
    attempted, failed = tally(units, checks)
    assert (attempted, failed) == (8, 2)
    assert stats.error_rate(attempted, failed) == 0.25
    assert checks.failed == ["rows differ"]


def test_op_medians_match_operations_by_key_across_orders():
    units = [
        Unit(1.0, [0.3, 0.1], 1.0, op_keys=["b", "a"]),
        Unit(1.0, [0.2, 0.9], 1.0, op_keys=["a", "b"]),
        Unit(1.0, [0.4, 0.5], 1.0, op_keys=["a", "b"]),
    ]
    assert sorted(op_medians(units)) == [0.2, 0.5]
    assert op_medians([Unit(1.0, [0.1, 0.2], 1.0)]) == [0.1, 0.2]  # no keys: by position


def test_summarize_reports_median_cpu_per_operation():
    units = [
        Unit(1.0, [0.1, 0.1], 2.0, cpu_s=4.0),
        Unit(1.0, [0.1, 0.1], 2.0, cpu_s=2.0),
        Unit(1.0, [0.1, 0.1], 2.0, cpu_s=3.0),
    ]
    assert summarize(units)["cpu_per_op_s"] == 1.5


def test_error_rate_rejects_impossible_counts():
    assert stats.error_rate(5, 0) == 0.0
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(2, 3)


# -- generated inputs -----------------------------------------------------


def _tables(seed):
    return {name: gen(seed, 0.001) for name, gen in datagen.GENERATORS.items()}


def test_same_seed_same_inputs():
    a, b = _tables(7), _tables(7)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    sa = datagen.commit_slices(7, 3, 50)
    sb = datagen.commit_slices(7, 3, 50)
    assert all(x.equals(y) for x, y in zip(sa, sb))


def test_different_seeds_different_inputs():
    a, b = _tables(7), _tables(8)
    seeded = [n for n in datagen.TABLES if n not in ("region", "nation")]
    for name in seeded:
        assert not a[name].equals(b[name]), name
    assert not datagen.commit_slices(7, 1, 50)[0].equals(datagen.commit_slices(8, 1, 50)[0])


def test_written_files_are_byte_identical(tmp_path):
    d1 = datagen.write_tables(str(tmp_path / "a"), 3, 0.001, names=("events", "documents"))
    d2 = datagen.write_tables(str(tmp_path / "b"), 3, 0.001, names=("events", "documents"))
    for name in ("events", "documents"):
        with open(os.path.join(d1, f"{name}.parquet"), "rb") as f1, open(
            os.path.join(d2, f"{name}.parquet"), "rb"
        ) as f2:
            assert f1.read() == f2.read(), name


# -- CPU accounting ---------------------------------------------------------


def test_tree_cpu_counts_busy_work_and_jit_probe_ignores_other_threads():
    from perfbench.probe import jit_cpu_s, tree_cpu_s

    before = tree_cpu_s(os.getpid())
    end = time.process_time() + 0.2
    while time.process_time() < end:
        pass
    assert tree_cpu_s(os.getpid()) - before >= 0.15
    assert jit_cpu_s(os.getpid()) == 0.0  # no JIT compiler threads in this process
