"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import threading
import time

import pytest

from perfbench.harness import Recorder, cycle_ops_per_s
from perfbench.model import INSERT, PATCH, SOFT_DELETE, ShadowTable
from perfbench.stats import tail
from perfbench.trace import Tracer, covered

# -- tail percentile -------------------------------------------------------------------


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    t = tail([float(i) for i in range(11)])
    assert t == {"value": 0.0, "percentile": pytest.approx(100 / 11, abs=0.01), "n": 11}


def test_tail_leaves_exactly_ten_samples_beyond():
    samples = [float(i) for i in range(100)]
    t = tail(list(reversed(samples)))
    assert t["value"] == 89.0
    assert sum(1 for s in samples if s > t["value"]) == 10
    assert t["percentile"] == 90.0 and t["n"] == 100


# -- op-class latency and cycle throughput -------------------------------------------


def _recorder(samples: list[tuple[str, str, float]]) -> Recorder:
    rec = Recorder()
    for kind, label, ms in samples:
        rec.samples[kind].append(ms)
        rec.by_label.setdefault(label, []).append(ms)
        rec.label_class[label] = kind
        rec.sequence.append(label)
    return rec


def test_class_latency_does_not_depend_on_the_mix():
    few_slow = _recorder([("point_read", "a", 100.0)] * 5 + [("point_read", "b", 300.0)])
    many_slow = _recorder([("point_read", "a", 100.0)] + [("point_read", "b", 300.0)] * 5)
    assert few_slow.class_ms("point_read") == many_slow.class_ms("point_read") == 200.0
    assert few_slow.class_ms("write") is None


def test_cycle_throughput_uses_warmup_only_for_missing_kinds():
    warm = _recorder([("ping", "p", 50.0), ("write", "w", 900.0), ("ping", "p", 50.0)])
    timed = _recorder([("ping", "p", 10.0), ("ping", "p", 30.0)])
    # cycle p, w, p: 20 + 900 + 20 ms for three statements
    assert cycle_ops_per_s(timed, warm.sequence, warm) == pytest.approx(3 / 0.94)
    assert cycle_ops_per_s(timed, ["x"], warm) is None


def test_recorder_counts_errors_and_wrong_results():
    rec = Recorder()

    def boom():
        raise RuntimeError("no")

    def wrong(_):
        from perfbench.harness import expect

        expect(False, "mismatch")

    rec.run("ping", boom)
    rec.run("ping", lambda: 1, wrong)
    rec.run("ping", lambda: 1, lambda _: None)
    assert (rec.attempted, rec.failed) == (3, 2)
    assert len(rec.samples["ping"]) == 2  # a statement that raised has no latency
    assert "mismatch" in rec.errors[1]


# -- self time ---------------------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 20)], 0, 10) == 4 + 3
    assert covered([], 0, 10) == 0


def _nested(tracer: Tracer):
    def leaf():
        time.sleep(0.02)

    def mid():
        time.sleep(0.01)
        tracer.call("leaf", leaf, (), {})
        tracer.call("leaf", leaf, (), {})

    def top():
        time.sleep(0.03)
        tracer.call("mid", mid, (), {})

    tracer.call("top", top, (), {})


def test_self_time_subtracts_children_only():
    tracer = Tracer()
    tracer.enabled = True
    tracer.stmt = 7
    _nested(tracer)
    names = [s.name for s in tracer.spans]
    assert names == ["top", "mid", "leaf", "leaf"]
    top, mid = 0, 1
    assert tracer.spans[2].parent == mid and tracer.spans[mid].parent == top
    leaf_ms = tracer.spans[2].ms + tracer.spans[3].ms
    assert tracer.self_ms(mid) == pytest.approx(tracer.spans[mid].ms - leaf_ms, abs=1e-6)
    assert tracer.self_ms(top) == pytest.approx(tracer.spans[top].ms - tracer.spans[mid].ms, abs=1e-6)
    assert 25 <= tracer.self_ms(top) <= 60  # the 30 ms sleep, not the children's
    assert tracer.by_stmt() == {7: [0, 1, 2, 3]}


def test_spans_on_other_threads_are_not_children():
    tracer = Tracer()
    tracer.enabled = True

    def top():
        t = threading.Thread(target=lambda: tracer.call("other", time.sleep, (0.01,), {}))
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()

    tracer.call("top", top, (), {})
    assert tracer.spans[0].children == []
    assert tracer.self_ms(0) == pytest.approx(tracer.spans[0].ms)


def test_wrap_and_uninstall_restore_the_original():
    class Thing:
        def f(self, x):
            return x + 1

    tracer = Tracer()
    tracer.enabled = True
    original = Thing.__dict__["f"]
    tracer.wrap(Thing, "f", "thing.f")
    assert Thing().f(1) == 2
    assert [s.name for s in tracer.spans] == ["thing.f"]
    tracer.uninstall()
    assert Thing.__dict__["f"] is original


# -- shadow model ----------------------------------------------------------------------


def _table() -> ShadowTable:
    m = ShadowTable("id")
    m.publish([(INSERT, 1, {"id": 1, "a": 1, "b": "x"}, 0), (INSERT, 2, {"id": 2, "a": 2, "b": "y"}, 0)])
    m.publish([(PATCH, 1, {"id": 1, "a": 10}, 0), (PATCH, 1, {"id": 1, "b": "z"}, 1), (SOFT_DELETE, 2, None, 0)])
    m.publish([(PATCH, 2, {"id": 2, "a": 99}, 0), (INSERT, 3, {"id": 3, "a": 3, "b": "w"}, 0)])
    return m


def test_fold_insert_patch_delete():
    m = _table()
    assert m.batches == [(1, 2), (3, 5), (6, 7)]
    assert m.state(0) == {"1": {"id": 1, "a": 1, "b": "x"}, "2": {"id": 2, "a": 2, "b": "y"}}
    # field-level merge in statement order; a deleted key stays deleted and
    # a later patch to it is ignored
    assert m.state(1) == {"1": {"id": 1, "a": 10, "b": "z"}}
    assert m.state() == {"1": {"id": 1, "a": 10, "b": "z"}, "3": {"id": 3, "a": 3, "b": "w"}}
    assert m.batch_ending_at(5) == 1
    with pytest.raises(ValueError):
        m.batch_ending_at(4)


def test_one_event_per_key_and_statement():
    m = ShadowTable("id")
    with pytest.raises(ValueError):
        m.publish([(INSERT, 1, {"id": 1}, 0), (PATCH, 1, {"id": 1}, 0)])


def test_empty_batch_publishes_nothing():
    m = _table()
    assert m.publish([]) == 7 and len(m.batches) == 3


def test_checkpoint_keeps_history_exact():
    m = _table()
    m.checkpoint()
    assert m.state(0)["1"] == {"id": 1, "a": 1, "b": "x"}
    m.publish([(PATCH, 3, {"id": 3, "a": 4}, 0)])
    assert m.state(2)["3"]["a"] == 3 and m.state()["3"]["a"] == 4


def test_compaction_folds_history_into_last_writes():
    m = _table()
    m.publish([(PATCH, 3, {"id": 3, "a": 4}, 0)])
    m.compact()
    # one Insert per live key, in the batch of its last write
    assert m.history(1) == [(1, INSERT)]
    assert m.history(3) == [(3, INSERT)]
    assert m.history(2) == []
    # no snapshot at or before batch 1, so only keys last written by then
    # show, with their final rows
    assert m.state(1) == {"1": {"id": 1, "a": 10, "b": "z"}}
    assert m.state(0) == {}
    assert m.state() == {"1": {"id": 1, "a": 10, "b": "z"}, "3": {"id": 3, "a": 4, "b": "w"}}
    assert not m.resolvable_ts_batch(2) and m.resolvable_ts_batch(3)


def test_compaction_after_checkpoint_reads_through_the_snapshot():
    m = _table()
    m.checkpoint()  # snapshot at batch 2
    m.publish([(PATCH, 1, {"id": 1, "a": 11}, 0)])
    m.compact()
    # batch 2 resolves through its snapshot: exact
    assert m.state(2)["1"]["a"] == 10
    # batch 3 replays the compacted Insert of key 1 over that snapshot
    assert m.state(3)["1"]["a"] == 11


def test_warmup_runs_each_distinct_op_and_labels_the_full_cycle():
    from perfbench.workloads import Ctx, _cycle_loop

    def op(label):
        return lambda rec: rec.run("point_read", lambda: None, label=label)

    a, b, c = op("a"), op("b"), op("c")
    ctx = Ctx(spark=None, seed=1, seconds=0.0, trace=False, workdir="")
    warm, timed, traced, post, labels = _cycle_loop(ctx, [a, b, a, b, c], None, rewarm=[a, b, a])
    assert warm.sequence == ["a", "b", "c", "a", "b"]
    assert labels == ["a", "b", "a", "b", "c"]
    assert timed.attempted == 0 and traced is None and post.attempted == 0
