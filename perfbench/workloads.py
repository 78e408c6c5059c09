"""The two workloads. Each runs: set-up → timed phase → output
checks, and returns a Result.

Sizes are fixed for a 4-core, 15 GB box: one run of a workload, JVM
start included, takes 30-65 s (a run of each took 75-121 s together,
depending on the host's load), so the 48 runs of the full benchmark
protocol fit its 3420 s budget.

Both gate on CPU time of the process tree (driver, JVM, Python
workers), not on wall time: on a shared VM the hypervisor steals
1-30 % of the CPUs in spells, and because the work fans out over
thread pools and Spark tasks, wall times rose up to 2.5x with steal
while CPU cost rose about 15 %. Wall times and the steal are printed.
The CPU time of the JVM's JIT compiler threads is left out
(procs.work_cpu_s): it is larger than the work's own for the first
passes of a Spark plan and ebbs at its own pace.

search       SEARCH_PAGES pages with heavy-tail hosts, built into a
             fresh store in set-up (the build is timed there and its
             lineage gives the build.* layers), then one warm-up pass
             over the request mix. The timed phase has two parts.
             Serving, on the fresh store: the seeded mix sent open loop
             at BASE_RATE req/s for a third of --seconds (ctx.cpus
             worker threads, latency from the due time); COST_REQUESTS
             requests from one client, COST_ROUNDS times over, each
             costed in CPU time at its best round; and closed-loop
             capacity with ctx.cpus clients for half of --seconds. The gated p50_ms / tail_ms are request CPU cost
             and throughput_per_s is requests per CPU second; the wall
             latencies (search_p50_ms, search_p99_ms, site and stats
             p50, search_max_rps) are printed. Then the edit phase, on
             the same store: one closed-loop client folds a stream
             micro-batch of STREAM_UPDATES updates and STREAM_NEW new
             pages, then sends a search and one write (reindex_page of
             an update or a new page, or delete_page; the kind rotates
             with the seed). After the batch every search sees
             tombstones and takes wand's distributed path. The edit
             metrics (edit_search_p50_ms, edit_write_p50_s,
             edit_batch_docs_per_s and their CPU costs) are printed,
             not gated: a write costs seconds, so a run holds too few
             of them for a steady median within the time budget.
             Exercises session, index_store, service, serving, codec,
             present, then incremental, streaming.ingest and wand;
             bypasses the cleaning chain. Checks: the build has the
             right n_docs, one seeded answer matches the distributed
             path (SPARK_GRAFT_NO_SERVING=1), and the store, build and
             writes together, is consistent after the edit phase.
clean        clean_corpus with the default stages (structural gopher
             only) on CLEAN_DOCS documents with planted exact and near
             duplicates: CLEAN_WARM_PASSES warm-up passes in set-up,
             then at least CLEAN_MIN_PASSES timed passes. p50_ms /
             tail_ms are a pass's CPU cost and throughput_per_s is
             documents per CPU second; the pass wall time,
             clean_docs_per_s and the JIT's CPU time are printed. Exercises pipeline, dedup, textstats; bypasses
             the index and serving. Check: every pass keeps the
             warm-up pass's per-stage row counts.

The per-layer metrics and the end-to-end metric each should move are
in layers.LAYER_MAP.
"""

from __future__ import annotations

import os
import queue
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

from . import inputs as I
from . import procs as P
from . import stats as ST
from . import spans as T

SEARCH_PAGES = 2_000
STREAM_UPDATES = 10  # the stream micro-batch: updates + new pages
STREAM_NEW = 10
CLEAN_DOCS = 1_000
# untimed passes in set-up: the JIT keeps speeding passes up for
# several of them (the third pass's work costs ~15 % less CPU than the
# first's)
CLEAN_WARM_PASSES = 3
CLEAN_MIN_PASSES = 3
# open-loop base rate (req/s), about a third of the closed-loop
# capacity, so queueing stays a small part of the latency
BASE_RATE = 24.0
BLOCKS = 3  # request-mix blocks the warm-up and closed-loop phases cycle
COST_REQUESTS = 120  # one-client requests whose CPU cost is measured
COST_ROUNDS = 2  # ... each this many times, keeping the best
EDIT_OPS = 3  # the stream batch, a search, one write
LATENCY_LIMIT_MS = 500.0


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    checks_ok: bool = True
    e2e: dict = field(default_factory=dict)  # name -> value
    detail: dict = field(default_factory=dict)  # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # name -> value
    windows: dict = field(default_factory=dict)  # name -> [(t0, t1)]


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    cpus: int
    tracer: T.Tracer
    t_begin: float  # process set-up started

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ---------------------------------------------------------------- helpers

def _build_store(ctx: Ctx, n_pages: int, res: Result):
    """Generate the seeded pages and build a store over them. Returns
    (store, build seconds)."""
    from search_engine_skillbox_spark.operators.index_store import IndexStore
    from search_engine_skillbox_spark.sources import pages

    corpus = ctx.path("corpus")
    (I.pages_frame(ctx.spark, ctx.seed, 0, n_pages, ctx.cpus)
     .write.mode("overwrite").parquet(corpus))
    raw = ctx.spark.read.parquet(corpus)
    t0 = time.time()
    with ctx.tracer.span("bench.build"):
        prepared = pages.prepare_pages(raw).persist()
        store = IndexStore(ctx.path("store"), n_buckets=8,
                           salt_threshold=50_000)
        store.build(ctx.spark, prepared, checkpoint_groups=2)
        prepared.unpersist()
    t1 = time.time()
    res.windows["build"] = [(t0, t1)]
    return store, t1 - t0


def _check_n_docs(ctx: Ctx, store, n_pages: int, res: Result) -> None:
    want = I.indexed_page_count(ctx.seed, n_pages)
    got = int(store.meta()["n_docs"])
    if got != want:
        print(f"check failed: build n_docs={got} expected={want}")
        res.checks_ok = False
        res.failed += 1


def _serve(ctx: Ctx, store, req: dict) -> dict:
    from search_engine_skillbox_spark.operators import service as S
    if req["kind"] == "stats":
        return S.statistics_service(ctx.spark, store)
    return S.search_service(ctx.spark, store, req["query"],
                            offset=req["offset"], limit=10,
                            mode=req["mode"], site=req["site"])


def _answer_key(resp: dict):
    return (resp["result"], resp["count"],
            [(d["uri"], round(d["relevance"], 4)) for d in resp["data"]])


def _store_layers(store, res: Result) -> None:
    import pyarrow.parquet as pq

    from search_engine_skillbox_spark.operators.index_store import \
        walk_parquet_files
    files = 0
    for table in ("blocks", "terms", "docs", "doclens"):
        nbytes = 0
        for p in walk_parquet_files(os.path.join(store.path, table)):
            nbytes += os.path.getsize(p)
            files += 1
        res.layers[f"store.{table}_bytes"] = nbytes
    res.layers["store.files"] = files
    res.layers["store.meta_json_bytes"] = os.path.getsize(
        os.path.join(store.path, "meta.json"))
    tomb = os.path.join(store.path, "tombstones")
    res.layers["store.tombstone_rows"] = sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in walk_parquet_files(tomb)) if os.path.isdir(tomb) else 0
    res.layers["store.gen"] = int(store.meta().get("gen", 0))


def _build_layers(store, res: Result) -> None:
    from search_engine_skillbox_spark.plans.checkpoint import Lineage
    rows = [r for r in Lineage(os.path.join(store.path, "lineage.jsonl"))
            .load() if r["build_id"] == "b0" and r["status"] == "DONE"]
    dur = {r["partition_id"]: r["finished_at"] - r["started_at"]
           for r in rows}
    groups = [r for r in rows if r["partition_id"].startswith("blocks-g")]
    res.layers["build.materialize_s"] = dur.get("materialize", 0.0)
    res.layers["build.dims_s"] = dur.get("dims", 0.0)
    res.layers["build.blocks_wall_s"] = (
        max(r["finished_at"] for r in groups)
        - min(r["started_at"] for r in groups)) if groups else 0.0
    res.layers["build.blocks_group_max_s"] = max(
        (r["finished_at"] - r["started_at"] for r in groups), default=0.0)


def _text_bytes(store) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from search_engine_skillbox_spark.operators.index_store import \
        walk_parquet_files
    total = 0
    for p in walk_parquet_files(os.path.join(store.path, "docs")):
        col = pq.read_table(p, columns=["text"]).column("text")
        total += int(pc.sum(pc.binary_length(col)).as_py() or 0)
    return total


# ---------------------------------------------------------------- search

def _open_loop(ctx: Ctx, store, reqs: list[dict], due: list[float],
               keep: set[int]):
    """Serve reqs[i] due at due[i] seconds from now with ctx.cpus worker
    threads. Returns per-request records, the kept responses and the
    window."""
    q: queue.Queue = queue.Queue()
    recs: list[dict | None] = [None] * len(due)
    kept: dict[int, dict] = {}
    t0 = time.time()

    def worker():
        while True:
            item = q.get()
            if item is None:
                return
            i, t_due, t_sent = item
            t_start = time.time()
            ctx.tracer.set_request(i)
            ok, resp = True, None
            try:
                with ctx.tracer.span("bench.request"):
                    resp = _serve(ctx, store, reqs[i])
            except Exception as e:  # a failed request is counted, not fatal
                print(f"request {i} failed: {e!r}")
                ok = False
            t_end = time.time()
            recs[i] = {"kind": reqs[i]["kind"], "site": reqs[i].get("site"),
                       "ok": ok, "lat": t_end - t_due,
                       "wait": t_start - t_due, "svc": t_end - t_start,
                       "late": t_sent - t_due}
            if ok and i in keep:
                kept[i] = resp

    threads = [threading.Thread(target=worker, daemon=True)
               for _ in range(ctx.cpus)]
    for t in threads:
        t.start()
    for i, d in enumerate(due):
        wait = t0 + d - time.time()
        if wait > 0:
            time.sleep(wait)
        q.put((i, t0 + d, time.time()))
    for _ in threads:
        q.put(None)
    for t in threads:
        t.join()
    return recs, kept, (t0, time.time())


def _closed_loop(ctx: Ctx, store, reqs: list[dict], seconds: float | None):
    """ctx.cpus clients, each sending its next request when the last
    returns, for `seconds` (or once through reqs when None). Returns
    (completed, failed, window, CPU seconds of the process tree)."""
    lock = threading.Lock()
    nxt = [0]
    done = [0, 0]
    t0, c0 = time.time(), P.work_cpu_s()
    deadline = t0 + seconds if seconds is not None else None

    def client():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if deadline is None and i >= len(reqs) \
                    or deadline is not None and time.time() >= deadline:
                return
            i %= len(reqs)
            try:
                _serve(ctx, store, reqs[i])
                ok = True
            except Exception as e:
                print(f"capacity request {i} failed: {e!r}")
                ok = False
            with lock:
                done[0 if ok else 1] += 1

    threads = [threading.Thread(target=client, daemon=True)
               for _ in range(ctx.cpus)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done[0], done[1], (t0, time.time()), P.work_cpu_s() - c0


def _request_costs(ctx: Ctx, store, reqs: list[dict]):
    """One client sends reqs one at a time, COST_ROUNDS times over.
    Returns the CPU milliseconds each request cost at best, the share
    of the JVM and the Python workers in them, the attempted and failed
    counts and the window. A request's cost in a round is the driver's
    CPU time while it ran (nanosecond clock) plus an equal share of
    what the JVM and the workers spent in the window (10 ms ticks), so
    a Spark job on the request path shows as its JVM CPU. Its best
    round is kept: neighbours on a shared host only ever slow a
    request down, in spells shorter than a round."""
    best: list[float | None] = [None] * len(reqs)
    failed: list[int] = []  # one entry per failed attempt
    t0, tree0, self0 = time.time(), P.work_cpu_s(), time.process_time()
    for _ in range(COST_ROUNDS):
        for i, req in enumerate(reqs):
            c0 = time.process_time()
            try:
                _serve(ctx, store, req)
            except Exception as e:
                print(f"cost request {i} failed: {e!r}")
                failed.append(i)
                continue
            c = time.process_time() - c0
            best[i] = c if best[i] is None else min(best[i], c)
    bad = set(failed)
    done = [c for i, c in enumerate(best) if i not in bad]
    others = (P.work_cpu_s() - tree0) - (time.process_time() - self0)
    share = others / max(1, COST_ROUNDS * len(reqs) - len(failed))
    return ([1000 * (c + share) for c in done], 1000 * share,
            COST_ROUNDS * len(reqs), len(failed), (t0, time.time()))


def _write_stream_input(ctx: Ctx, n_pages: int) -> str:
    import pandas as pd

    from search_engine_skillbox_spark.sources.corpus import PAGES_SCHEMA
    rng = random.Random(f"stream:{ctx.seed}")
    upd = rng.sample(range(2, n_pages), STREAM_UPDATES)
    rows = [I.updated_page(ctx.seed, d) for d in upd] + \
        [I.make_page(ctx.seed, n_pages + i) for i in range(STREAM_NEW)]
    path = ctx.path("stream_in")
    (ctx.spark.createDataFrame(pd.DataFrame(rows), PAGES_SCHEMA)
     .coalesce(1).write.mode("overwrite").parquet(path))
    return path



def _edit_phase(ctx: Ctx, store, stream_in: str, res: Result) -> dict:
    """One closed-loop client runs the edit sequence on the served
    store: the stream micro-batch, then searches around a single write.
    Returns each op kind's (wall s, CPU s) records."""
    from search_engine_skillbox_spark.operators import incremental as INC
    from search_engine_skillbox_spark.streaming import ingest as ING
    ops = I.edit_ops(ctx.seed, SEARCH_PAGES, EDIT_OPS)
    recs: dict[str, list[tuple[float, float]]] = {}
    windows: dict[str, list] = {"edit_search": [], "write": [], "stream": []}
    for k, op in enumerate(ops):
        t0, c0 = time.time(), P.work_cpu_s()
        res.attempted += 1
        try:
            with ctx.tracer.span("bench.op", op=op["kind"]):
                if op["kind"] == "search":
                    _serve(ctx, store, op)
                elif op["kind"] == "update":
                    INC.reindex_page(ctx.spark, store,
                                     I.updated_page(ctx.seed, op["doc_id"]))
                elif op["kind"] == "new":
                    INC.reindex_page(ctx.spark, store,
                                     I.make_page(ctx.seed, op["doc_id"]))
                elif op["kind"] == "delete":
                    INC.delete_page(ctx.spark, store,
                                    I.make_page(ctx.seed, op["doc_id"])["url"])
                else:
                    ING.stream_pages(ctx.spark, store, stream_in,
                                     ctx.path("stream_ckpt"))
        except Exception as e:
            print(f"edit op {k} {op} failed: {e!r}")
            res.failed += 1
            continue
        t1 = time.time()
        kind = op["kind"] if op["kind"] in ("search", "stream") else "write"
        recs.setdefault(kind, []).append((t1 - t0, P.work_cpu_s() - c0))
        windows["edit_search" if kind == "search" else kind].append((t0, t1))
    res.windows.update(windows)
    return recs


def run_search(ctx: Ctx) -> Result:
    from search_engine_skillbox_spark.operators import incremental as INC
    res = Result()
    n = SEARCH_PAGES
    store, build_s = _build_store(ctx, n, res)
    stream_in = _write_stream_input(ctx, n)
    due = I.open_loop_schedule(ctx.seed, BASE_RATE, ctx.seconds / 3)
    reqs = I.search_requests(ctx.seed, n, max(len(due), BLOCKS * I.BLOCK))
    # warm the serving memos on the timed phase's own working set, as
    # a long-running service would have them
    _closed_loop(ctx, store, reqs, None)
    setup_s = time.time() - ctx.t_begin
    rng = random.Random(f"sample:{ctx.seed}")
    plain = [i for i in range(len(due)) if reqs[i]["kind"] == "search"
             and not reqs[i]["site"]]
    sited = [i for i in range(len(due)) if reqs[i]["kind"] == "search"
             and reqs[i]["site"]]
    # one answer per run goes through the slow distributed path, a
    # site search on odd seeds and a plain one on even seeds
    keep = {rng.choice(sited if ctx.seed % 2 else plain)}
    steal0 = P.steal_s()
    recs, kept, open_win = _open_loop(ctx, store, reqs, due, keep)
    cost_ms, share_ms, cost_sent, cost_failed, cost_win = _request_costs(
        ctx, store, reqs[:COST_REQUESTS])
    done, cap_failed, cap_win, cap_cpu = _closed_loop(
        ctx, store, reqs, ctx.seconds / 2)
    steal = (P.steal_s() - steal0) / ((cap_win[1] - open_win[0]) * ctx.cpus)
    res.windows["requests"] = [open_win, cost_win, cap_win]

    # checks on the served store: the distributed path must give the
    # served answers, and the build must index every page with a word
    t_checks = time.time()
    os.environ["SPARK_GRAFT_NO_SERVING"] = "1"
    try:
        for i in sorted(keep):
            if i not in kept:
                continue
            again = _serve(ctx, store, reqs[i])
            if _answer_key(again) != _answer_key(kept[i]):
                print(f"check failed: request {i} {reqs[i]} differs on "
                      f"the distributed path")
                res.checks_ok = False
                res.failed += 1
    finally:
        del os.environ["SPARK_GRAFT_NO_SERVING"]
    t_dist = time.time()
    _check_n_docs(ctx, store, n, res)
    t_checked = time.time()
    _build_layers(store, res)

    # the edit phase, on the same store, then its consistency check
    edits = _edit_phase(ctx, store, stream_in, res)
    t_edited = time.time()
    res.windows["timed"] = [(open_win[0], cap_win[1]),
                            (t_checked, t_edited)]
    if not INC.check_consistency(ctx.spark, store)["consistent"]:
        print("check failed: store inconsistent after the writes")
        res.checks_ok = False
        res.failed += 1
    _store_layers(store, res)

    lat_ms = [r["lat"] * 1000 for r in recs if r["ok"]]
    srch = [r["lat"] * 1000 for r in recs if r["ok"] and r["kind"] == "search"]
    site = [r["lat"] * 1000 for r in recs if r["ok"] and r["site"]]
    stat = [r["lat"] * 1000 for r in recs if r["ok"] and r["kind"] == "stats"]
    n_failed = sum(1 for r in recs if not r["ok"]) + cost_failed + cap_failed
    res.attempted += len(recs) + cost_sent + done + cap_failed
    res.failed += n_failed
    tail_v, tail_label = ST.tail(srch)
    cost_tail, cost_label = ST.tail(cost_ms)
    # gated on CPU cost: wall latency on a shared VM follows the
    # hypervisor's steal (see workloads docstring); it is printed below
    res.e2e = {"setup_s": setup_s, "p50_ms": ST.median(cost_ms),
               "tail_ms": cost_tail, "throughput_per_s": done / cap_cpu}
    e_search = edits.get("search", [])
    e_write = edits.get("write", [])
    e_stream = edits.get("stream", [])
    res.detail = {
        "request_cpu_p50_ms": (ST.median(cost_ms),
                               f"ms (one client, best of {COST_ROUNDS}, "
                               f"of {len(cost_ms)})"),
        "request_cpu_tail_ms": (cost_tail, f"ms ({cost_label})"),
        "request_cpu_jvm_share_ms": (share_ms, "ms (JVM and workers, "
                                     "per request)"),
        "requests_per_cpu_s": (done / cap_cpu, f"1/s ({ctx.cpus} "
                               "closed-loop clients)"),
        "search_p50_ms": (ST.median(srch), f"ms (open loop at "
                          f"{BASE_RATE:g} req/s, of {len(srch)})"),
        "search_p99_ms": (tail_v, f"ms ({tail_label})"),
        "site_search_p50_ms": (ST.median(site), "ms"),
        "stats_p50_ms": (ST.median(stat) if stat else float("nan"), "ms"),
        "search_max_rps": (done / (cap_win[1] - cap_win[0]),
                           f"1/s ({ctx.cpus} closed-loop clients)"),
        "search_within_limit_frac": (
            sum(1 for x in lat_ms if x <= LATENCY_LIMIT_MS)
            / max(1, len(recs)), f"frac (<= {LATENCY_LIMIT_MS:g} ms)"),
        "host_steal_pct": (100 * steal, "% of CPU time in the serving phase"),
        "build_docs_per_s": (n / build_s, "1/s (set-up build)"),
        "checks_s": (t_checked - t_checks, f"s ({t_dist - t_checks:.1f} s "
                     "on the distributed path)"),
        "store_bytes_per_text_byte": (
            _dir_bytes(store.path) / _text_bytes(store), "ratio"),
    }
    if e_search and e_write and e_stream:
        stream_docs = STREAM_UPDATES + STREAM_NEW
        res.detail.update({
            "edit_search_p50_ms": (1000 * ST.median([w for w, _ in e_search]),
                                   f"ms (of {len(e_search)})"),
            "edit_search_cpu_ms": (1000 * ST.median([c for _, c in e_search]),
                                   "ms (CPU less JIT, median)"),
            "edit_write_p50_s": (ST.median([w for w, _ in e_write]),
                                 f"s (of {len(e_write)})"),
            "edit_write_cpu_s": (ST.median([c for _, c in e_write]),
                                 "s (CPU less JIT, median)"),
            "edit_batch_docs_per_s": (stream_docs / e_stream[0][0],
                                      f"1/s (stream batch of {stream_docs})"),
            "edit_batch_docs_per_cpu_s": (stream_docs / e_stream[0][1],
                                          "1/s (CPU less JIT)"),
        })
    res.layers["search.queue_wait_ms"] = 1000 * ST.mean(
        [r["wait"] for r in recs])
    res.layers["search.service_ms"] = 1000 * ST.mean(
        [r["svc"] for r in recs])
    res.layers["search.gen_late_ms"] = 1000 * max(r["late"] for r in recs)
    return res


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- clean

def run_clean(ctx: Ctx) -> Result:
    from search_engine_skillbox_spark.operators import pipeline as PL
    res = Result()
    src = ctx.path("clean_in")
    (I.clean_frame(ctx.spark, ctx.seed, CLEAN_DOCS, ctx.cpus)
     .write.mode("overwrite").parquet(src))

    def one_pass(name: str) -> tuple[dict, float, float]:
        wd = ctx.path(name)
        shutil.rmtree(wd, ignore_errors=True)
        stages = PL.default_clean_stages(gopher_structural_only=True)
        t0, st0, c0, j0 = (time.time(), P.steal_s(), P.work_cpu_s(),
                           P.jit_cpu_s())
        out = PL.clean_corpus(ctx.spark, src, wd, stages=stages)
        t1 = time.time()
        out["cpu"] = P.work_cpu_s() - c0
        out["jit"] = P.jit_cpu_s() - j0
        out["steal"] = (P.steal_s() - st0) / ((t1 - t0) * ctx.cpus)
        shutil.rmtree(wd, ignore_errors=True)
        return out, t0, t1

    for k in range(CLEAN_WARM_PASSES):
        warm, _, _ = one_pass(f"clean_warm{k}")
    want = [(s["stage"], s["rows_out"]) for s in warm["stages"]]
    setup_s = time.time() - ctx.t_begin

    passes = []
    deadline = time.time() + ctx.seconds
    while len(passes) < CLEAN_MIN_PASSES or time.time() < deadline:
        res.attempted += 1
        try:
            out, t0, t1 = one_pass(f"clean_{len(passes)}")
        except Exception as e:
            print(f"clean pass failed: {e!r}")
            res.failed += 1
            break
        got = [(s["stage"], s["rows_out"]) for s in out["stages"]]
        if got != want:
            print(f"check failed: stage rows {got} != warm-up {want}")
            res.checks_ok = False
            res.failed += 1
        passes.append((out, t0, t1))
    res.windows["pass"] = [(t0, t1) for _, t0, t1 in passes]
    res.windows["timed"] = res.windows["pass"]

    walls = [t1 - t0 for _, t0, t1 in passes]
    cpus = [out["cpu"] for out, _, _ in passes]
    # gated on CPU time, like search: a pass's wall time follows the
    # hypervisor's steal; it is printed below
    res.e2e = {"setup_s": setup_s,
               "p50_ms": 1000 * ST.median(cpus),
               "tail_ms": 1000 * ST.tail(cpus)[0],
               "throughput_per_s": CLEAN_DOCS * len(cpus) / sum(cpus)}
    res.detail = {"clean_docs_per_s": (CLEAN_DOCS * len(walls) / sum(walls),
                                       f"1/s ({len(walls)} passes of "
                                       f"{CLEAN_DOCS} docs)"),
                  "clean_pass_p50_ms": (1000 * ST.median(walls), "ms (wall)"),
                  "clean_pass_jit_cpu_ms": (
                      1000 * ST.median([o["jit"] for o, _, _ in passes]),
                      "ms (JIT compiler threads, median)"),
                  "host_steal_pct": (
                      100 * ST.mean([o["steal"] for o, _, _ in passes]),
                      "% of CPU time in the passes (" + " ".join(
                          f"{100 * o['steal']:.1f}" for o, _, _ in passes)
                      + ")")}
    for i, (stage, rows) in enumerate(want):
        res.layers[f"clean.{stage}_s"] = ST.median(
            [out["stages"][i]["sec"] for out, _, _ in passes])
        res.detail[f"clean.{stage}_rows_out"] = (rows, "rows")
    return res


WORKLOADS = {"search": run_search, "clean": run_clean}
