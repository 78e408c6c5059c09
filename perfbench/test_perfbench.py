"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import json
import math
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs as I  # noqa: E402
from perfbench import procs as P  # noqa: E402
from perfbench import stats as ST  # noqa: E402
from perfbench import spans as T  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert ST.tail_percentile(10_000) == 99.9
    assert ST.tail_percentile(9_999) == 99.0
    assert ST.tail_percentile(1_000) == 99.0
    assert ST.tail_percentile(999) == 95.0
    assert ST.tail_percentile(200) == 95.0
    assert ST.tail_percentile(100) == 90.0
    assert ST.tail_percentile(40) == 75.0
    assert ST.tail_percentile(20) == 50.0
    assert ST.tail_percentile(19) is None
    for n in range(1, 3000):
        p = ST.tail_percentile(n)
        if p is not None:
            assert n * (100 - p) / 100 >= ST.MIN_BEYOND


def test_tail_value_and_fallback():
    xs = list(range(1, 101))
    assert ST.tail(xs) == (90, "p90 of 100")
    assert ST.tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    assert ST.percentile([5, 1, 4, 2, 3], 50) == 3
    assert ST.percentile([5, 1, 4, 2, 3], 100) == 5


def test_tree_cpu_counts_this_process_and_its_children():
    import subprocess
    import time
    me = os.getpid()
    c0 = P.tree_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.1:
        pass
    c1 = P.tree_cpu_s()
    assert c1 - c0 >= 0.1
    # a grandchild that burned CPU and has ended still counts: its
    # parent, alive and in the tree, reaped it
    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass")
    mid = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys\n"
         f"subprocess.run([sys.executable, '-c', {burn!r}])\n"
         "print('done', flush=True)\nsys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    assert mid.stdout.readline().strip() == "done"
    c2 = P.tree_cpu_s()
    mid.communicate("")
    assert c2 - c1 >= 0.3
    assert P.steal_s() >= 0.0
    assert me not in P.descendants(me)


def test_open_loop_schedule_is_deterministic_per_seed():
    a = I.open_loop_schedule(7, 15.0, 20.0)
    assert a == I.open_loop_schedule(7, 15.0, 20.0)
    assert a != I.open_loop_schedule(8, 15.0, 20.0)
    assert a == sorted(a) and 0 <= a[0] and a[-1] < 20.0
    assert len(a) == 300


def test_requests_and_edit_ops_are_deterministic_per_seed():
    assert I.search_requests(3, 1000, 500) == I.search_requests(3, 1000, 500)
    assert I.edit_ops(3, 1000, 30) == I.edit_ops(3, 1000, 30)
    reqs = I.search_requests(3, 1000, 5000)
    kinds = Counter(r["kind"] for r in reqs)
    assert 0.01 < kinds["stats"] / len(reqs) < 0.03
    sites = sum(1 for r in reqs if r.get("site"))
    assert 0.17 < sites / kinds["search"] < 0.23
    ops = I.edit_ops(3, 1000, 30)
    assert [o["kind"] for o in ops[:7]] == [
        "stream", "search", "update", "search", "delete", "search", "new"]
    assert [o["kind"] for o in I.edit_ops(4, 1000, 4)] == [
        "stream", "search", "delete", "search"]
    targets = [o["doc_id"] for o in ops if o["kind"] in ("update", "delete")]
    assert len(set(targets)) == len(targets)


def test_host_rewrite_distribution():
    n = 20_000
    ranks = [I.host_rank(1, d) for d in range(n)]
    assert min(ranks) >= 1 and max(ranks) < I.HOST_RANKS
    c = Counter(ranks)
    # P(rank = r) = log(1 + 1/r) / log(HOST_RANKS)
    for r in (1, 2, 10):
        p = math.log1p(1 / r) / math.log(I.HOST_RANKS)
        sd = math.sqrt(n * p * (1 - p))
        assert abs(c[r] - n * p) < 4 * sd
    assert 3_000 < len(c) < 5_000
    assert ranks == [I.host_rank(1, d) for d in range(n)]
    page = I.make_page(1, 12)
    assert f"/{I.host_name(ranks[12])}/" in page["url"]
    assert all(h not in page["url"] for h in
               ("volochek.test", "sendel.test", "alpha.test", "beta.test"))


def test_self_time_subtracts_covered_child_time():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
            {"start": 6.0, "end": 7.0}, {"start": 9.0, "end": 12.0}]
    # covered: [1, 4] + [6, 7] + [9, 10] = 5
    assert T.self_time(parent, kids) == 5.0
    assert T.self_time(parent, []) == 10.0


def test_tracer_self_ms_and_restore():
    class Mod:
        @staticmethod
        def inner():
            return 1

        @staticmethod
        def outer():
            return Mod.inner() + 1

    tr = T.Tracer()
    tr.wrap(Mod, "inner", "inner", lambda out: {"out": out})
    tr.wrap(Mod, "outer", "outer")
    tr.set_request(5)
    assert Mod.outer() == 2
    inner, outer = T.named(tr.spans, "inner")[0], T.named(tr.spans, "outer")[0]
    assert inner["parent"] == outer["id"] and inner["request"] == 5
    assert inner["out"] == 1
    whole = outer["end"] - outer["start"]
    part = inner["end"] - inner["start"]
    assert math.isclose(T.self_ms(tr.spans, "outer"),
                        1000 * (whole - part), abs_tol=1e-6)
    tr.restore()
    Mod.outer()
    assert len(tr.spans) == 2


def test_read_event_log_attributes_tasks_to_jobs(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 5000, "Stage IDs": [2]},
    ]
    (tmp_path / "events_1_app").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    jobs = T.read_event_log(str(tmp_path))
    assert [j["id"] for j in jobs] == [0, 1]
    assert jobs[0]["tasks"] == 2 and jobs[0]["shuffle_write"] == 100
    assert jobs[0]["spill"] == 12 and jobs[0]["end"] == 2.0
    assert [j["id"] for j in T.jobs_within(jobs, [(0.5, 1.5)])] == [0]
