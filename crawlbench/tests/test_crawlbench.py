"""Tests for the benchmark's own code; no Spark session is started.

    python3 -m pytest crawlbench/tests -q
"""

from __future__ import annotations

import json
import threading

import numpy as np
import pytest

from crawlbench import checks, eventlog, inputs, procfs
from crawlbench.spans import Tracer, covered, self_times, summarize


# ---------------------------------------------------------------- event log
def _task(stage, run_ms, cpu_ns, gc_ms, py_ms=None, shuffle=0, spill=0):
    accs = [{"Name": "internal.metrics.executorRunTime", "Update": run_ms}]
    if py_ms is not None:
        accs.append({"Name": "time to run Python workers", "Update": py_ms})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


FIXED_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.job.description": "r3:chain"}},
    _task(0, 400, 300_000_000, 20, py_ms=250, shuffle=1000),
    _task(1, 100, 50_000_000, 0, spill=64),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [2], "Properties": {"spark.job.description": "r3:write_delta"}},
    _task(2, 900, 800_000_000, 100),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3500,
     "Stage IDs": [3], "Properties": {}},
    _task(3, 50, 1, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3600},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 7, "description": "p0:textops.ivf_ann",
     "sparkPlanInfo": {"nodeName": "BroadcastHashJoin", "metrics": [], "children": [
         {"nodeName": "BroadcastExchange", "children": [], "metrics": [
             {"name": "data size", "accumulatorId": 41},
             {"name": "time to build", "accumulatorId": 42}]}]}},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 7, "accumUpdates": [[41, 4096], [42, 9]]},
]


def test_eventlog_reducer_on_fixed_log():
    # the last line is cut mid-event, as a crash leaves it
    lines = [json.dumps(e) for e in FIXED_LOG] + ['{"Event": "SparkListenerJobSt']
    ev = eventlog.reduce_events(lines)
    assert [j["tag"] for j in ev["jobs"]] == ["r3:chain", "r3:write_delta", None]
    assert ev["jobs"][0]["submit"] == 1.0 and ev["jobs"][0]["end"] == 1.5
    chain = ev["tags"]["r3:chain"]
    assert chain["jobs"] == 1
    assert chain["task_s"] == pytest.approx(0.5)
    assert chain["cpu_s"] == pytest.approx(0.35)
    assert chain["gc_s"] == pytest.approx(0.02)
    assert chain["python_s"] == pytest.approx(0.25)
    assert chain["shuffle_write_bytes"] == 1000 and chain["spill_bytes"] == 64
    assert ev["tags"]["r3:write_delta"]["task_s"] == pytest.approx(0.9)
    # the broadcast's data size, not its build time, reaches the tag
    assert ev["tags"]["p0:textops.ivf_ann"]["broadcast_bytes"] == 4096
    assert eventlog.jobs_in(ev["jobs"], 1.9, 3.6) == ev["jobs"][1:]


# ---------------------------------------------------------------- spans
def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "name": "round", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "followup", "parent": 0, "start": 2.0, "end": 6.0},
        # concurrent children overlap: 3-5 and 4-6 cover 3 s, not 4
        {"id": 2, "name": "write_table.host_state", "parent": 1, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "write_table.bloom", "parent": 1, "start": 4.0, "end": 6.0},
        {"id": 4, "name": "open", "parent": 0, "start": 7.0, "end": None},
    ]
    st = self_times(spans)
    assert st == {0: 6.0, 1: 1.0, 2: 2.0, 3: 2.0}
    assert summarize(spans)["followup"] == {"n": 1, "total_s": 4.0, "self_s": 1.0}


class _FakeSC:
    def __init__(self):
        self.desc = {}

    def setLocalProperty(self, key, value):
        self.desc[threading.get_ident()] = value


def test_tracer_tags_innermost_span_per_thread():
    sc = _FakeSC()
    tr = Tracer(sc)
    assert tr.open("ignored") is None  # off: no spans, no tags
    tr.enabled, tr.trace = True, "r4"
    root = tr.open("round", root=True)
    phase = tr.open("followup", root=True)
    main = threading.get_ident()
    assert sc.desc[main] == "r4:followup"

    seen = {}

    def pool_job():
        with tr.span("write_table.bloom"):
            seen["tag"] = sc.desc[threading.get_ident()]
        seen["after"] = sc.desc[threading.get_ident()]

    t = threading.Thread(target=pool_job)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    assert seen == {"tag": "r4:write_table.bloom", "after": None}
    bloom = [s for s in tr.spans if s["name"] == "write_table.bloom"][0]
    assert bloom["parent"] == phase  # pool-thread span hangs off the open phase
    tr.close(phase)
    assert sc.desc[main] == "r4:round"
    tr.close(root)
    assert sc.desc[main] is None
    assert all(s["end"] is not None for s in tr.spans)


# ---------------------------------------------------------------- procfs
def test_steal_share_and_own_cpu():
    before = [100, 0, 50, 800, 0, 0, 0, 10, 0, 0]
    after = [200, 0, 100, 1600, 0, 0, 0, 60, 0, 0]
    assert procfs.steal_share(before, after) == pytest.approx(50 / 1000)
    import os

    cpu = procfs.tree_cpu(os.getpid(), None)
    assert cpu["total"] == pytest.approx(cpu["driver"]) and cpu["jvm"] == 0.0


# ---------------------------------------------------------------- checks
def _crawl_case():
    ref = {"visited": [["http://a/p/1.html", 2], ["http://b/p/3.html", 2]],
           "fetched": 2, "deduped": 3}
    got = {"visited": [["http://b/p/3.html", 2], ["http://a/p/1.html", 2]],
           "fetched": 2, "deduped": 3}
    return got, ref


def test_crawl_check_accepts_exact_and_rejects_corruptions():
    got, ref = _crawl_case()
    assert checks.check_round(got, ref) == []
    assert checks.round_recall(got, ref) == (2, 2)
    assert checks.crawl_self_test(got, ref) == {
        "visited_depth_changed": True, "visited_row_dropped": True,
        "deduped_count_off_by_one": True}
    dup = {**got, "visited": got["visited"] + [got["visited"][0]]}
    assert checks.check_round(dup, ref)


@pytest.fixture(scope="module")
def small_pairs():
    rng = np.random.default_rng(5)
    X = rng.standard_normal((60, inputs.DIM)).astype(np.float32)
    labels = rng.integers(0, 3, 60).astype(np.int32)
    X[1] = X[0] + 0.01 * rng.standard_normal(inputs.DIM).astype(np.float32)
    labels[1] = labels[0]
    Xd = X.astype(np.float64)
    queries = [0, 7]
    ref = {"topk": inputs.topk_reference(Xd, queries),
           "pairs": inputs.pair_reference(Xd, labels)}
    rows = [[int(q), n, c, rk + 1] for q, lst in ref["topk"].items()
            for rk, (n, c) in enumerate(lst)]
    out = {"cosine_topk": rows, "ivf_ann": rows[:3] + rows[5:], "lsh_bucketed_ann": rows,
           "embedding_neardup_pairs": [list(p) for p in ref["pairs"]] + [[2, 3, 0.1]]}
    return Xd, ref, out


def test_pair_references_follow_the_jvm_order(small_pairs):
    Xd, ref, _ = small_pairs
    assert ref["pairs"][0][:2] == [0, 1]
    assert ref["topk"]["0"][0][0] == 1
    # reference cosines equal a plain per-pair left-to-right loop
    for n, c in ref["topk"]["7"]:
        dot = 0.0
        for a, b in zip(Xd[7], Xd[n]):
            dot += a * b
        na = np.sqrt(sum(a * a for a in Xd[7]))
        nb = np.sqrt(sum(b * b for b in Xd[n]))
        assert c == inputs.spark_round4(dot / (na * nb))


def test_pair_checks_accept_exact_and_reject_corruptions(small_pairs):
    Xd, ref, out = small_pairs
    assert checks.check_topk(out["cosine_topk"], ref["topk"]) == []
    problems, recall = checks.check_ann(out["ivf_ann"], Xd, ref["topk"])
    assert problems == [] and recall == pytest.approx(8 / 10)
    assert checks.check_ann(out["lsh_bucketed_ann"], Xd, ref["topk"]) == ([], 1.0)
    assert checks.check_pairs(out["embedding_neardup_pairs"], ref["pairs"])  # extra pair
    out = {**out, "embedding_neardup_pairs": [list(p) for p in ref["pairs"]]}
    assert checks.check_pairs(out["embedding_neardup_pairs"], ref["pairs"]) == []
    assert all(checks.pairs_self_test(out, Xd, ref).values())


def test_spark_round4_is_half_up_on_shortest_form():
    assert inputs.spark_round4(0.12345) == 0.1235
    assert inputs.spark_round4(-0.12345) == -0.1235
    assert inputs.spark_round4(0.99994999) == 0.9999


def test_traced_phase_repeats_the_timed_ops():
    from crawlbench.measure import OpClock

    class Meter:
        t = 0.0

        def sample(self):
            Meter.t += 1.0
            return {"t": Meter.t}

    clock = OpClock(Meter(), Tracer(), warmup=1, seconds=5, trace=True)
    phases, more = [], True
    while more:
        phases.append(clock.phase())
        clock.begin()
        more = clock.end()
    assert phases[0] == "warmup" and phases.count("warmup") == 1
    assert phases.count("traced") == phases.count("timed") == 2
    assert phases == sorted(phases, key=["warmup", "timed", "traced"].index)
