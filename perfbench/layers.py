"""Per-layer metrics of the traced run: which engine functions are
wrapped, how spans and event-log jobs become metrics, and which
end-to-end metric each layer metric should move on which workload.
"""

from __future__ import annotations

from . import stats as ST
from . import spans as T

CLEAN_STAGES = ("gopher_filter", "exact_dedup", "minhash_neardedup",
                "decontaminate", "sample_50pct", "pii_redact")

EDIT = "search, edit phase"
# metric -> (unit, end-to-end metric it should move, workloads)
LAYER_MAP: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "setup_s", "all"),
    "build.materialize_s": ("s", "setup_s", "search"),
    "build.dims_s": ("s", "setup_s", "search"),
    "build.blocks_wall_s": ("s", "setup_s", "search"),
    "build.blocks_group_max_s": ("s", "setup_s", "search"),
    "build.jobs": ("count", "setup_s", "search"),
    "build.tasks": ("count", "setup_s", "search"),
    "build.shuffle_write_bytes": ("bytes", "setup_s", "search"),
    "build.spill_bytes": ("bytes", "setup_s", "search"),
    "store.blocks_bytes": ("bytes", "setup_s", "search"),
    "store.terms_bytes": ("bytes", "setup_s", "search"),
    "store.docs_bytes": ("bytes", "setup_s", "search"),
    "store.doclens_bytes": ("bytes", "setup_s", "search"),
    "store.files": ("count", "setup_s", "search"),
    "store.meta_json_bytes": ("bytes", "p50_ms", "search"),
    "service.meta_ms_per_req": ("ms", "p50_ms", "search"),
    "service.meta_calls_per_req": ("count", "p50_ms", "search"),
    "service.spark_jobs_per_req": ("count", "tail_ms", "search"),
    "serving.topk_ms": ("ms", "p50_ms", "search"),
    "serving.site_topk_ms": ("ms", "p50_ms", "search"),
    "serving.match_count_ms": ("ms", "p50_ms", "search"),
    "serving.terms_ms": ("ms", "p50_ms", "search"),
    "serving.hydrate_ms": ("ms", "p50_ms", "search"),
    "serving.served_frac": ("frac", "tail_ms", "search"),
    "codec.decode_ms": ("ms", "tail_ms", "search"),
    "codec.postings_decoded": ("count", "tail_ms", "search"),
    "present.ms_per_req": ("ms", "p50_ms", "search"),
    # the open loop's wall-clock metrics are printed, not gated
    "search.queue_wait_ms": ("ms", "search_p99_ms", "search"),
    "search.service_ms": ("ms", "search_max_rps", "search"),
    "search.gen_late_ms": ("ms", "search_p99_ms", "search"),
    # the edit phase's metrics are printed, not gated
    "wand.dist_ms_per_query": ("ms", "edit_search_p50_ms", EDIT),
    "wand.dist_jobs_per_query": ("count", "edit_search_p50_ms", EDIT),
    "incremental.reindex_page_s": ("s", "edit_write_p50_s", EDIT),
    "incremental.delete_page_s": ("s", "edit_write_p50_s", EDIT),
    "incremental.jobs_per_write": ("count", "edit_write_p50_s", EDIT),
    "incremental.reindex_batch_s": ("s", "edit_batch_docs_per_s", EDIT),
    "store.tombstone_rows": ("count", "edit_search_p50_ms", EDIT),
    "store.gen": ("count", "edit_search_p50_ms", EDIT),
    "streaming.overhead_s": ("s", "edit_batch_docs_per_s", EDIT),
    **{f"clean.{s}_s": ("s", "throughput_per_s", "clean")
       for s in CLEAN_STAGES},
    "clean.jobs": ("count", "throughput_per_s", "clean"),
    "clean.shuffle_write_bytes": ("bytes", "throughput_per_s", "clean"),
    "trace.overhead_frac": ("frac", "none", "all"),
}

SERVING = {"serving.topk": "serving.topk_ms",
           "serving.site_topk": "serving.site_topk_ms",
           "serving.match_count": "serving.match_count_ms",
           "serving.terms": "serving.terms_ms",
           "serving.hydrate": "serving.hydrate_ms"}


def _served(out) -> dict:
    return {"served": out is not None}


def _decoded(out) -> dict:
    return {"postings": int(len(out[0]))}


def install(tracer: T.Tracer) -> None:
    """Wrap every public function the layer metrics need, at the
    binding its caller uses."""
    from search_engine_skillbox_spark.operators import (incremental,
                                                        index_store,
                                                        pipeline, service,
                                                        serving, wand)
    from search_engine_skillbox_spark.streaming import ingest

    tracer.wrap(index_store.IndexStore, "build", "index_store.build")
    tracer.wrap(index_store.IndexStore, "meta", "index_store.meta")
    tracer.wrap(service, "search_service", "service.search")
    tracer.wrap(service, "statistics_service", "service.stats")
    # service.py imports the distributed entry points by name
    tracer.wrap(service, "wand_topk", "wand.dist")
    tracer.wrap(service, "site_topk", "wand.dist")
    tracer.wrap(wand, "site_match_count", "wand.dist")
    # search_service imports these lazily from the serving module
    tracer.wrap(serving, "serve_topk", "serving.topk", _served)
    tracer.wrap(serving, "serve_site_topk", "serving.site_topk", _served)
    tracer.wrap(serving, "serve_match_count", "serving.match_count",
                _served)
    tracer.wrap(serving, "terms_rows_arrow", "serving.terms", _served)
    tracer.wrap(serving, "serve_doc_rows", "serving.hydrate", _served)
    # serving.py imports the decode kernel by name
    tracer.wrap(serving, "decode_blocks_batch_threaded", "codec.decode",
                _decoded)
    # service.py imports the present functions by name
    for fn in ("build_title", "build_snippet", "build_result_url"):
        tracer.wrap(service, fn, "present")
    tracer.wrap(incremental, "reindex_page", "incremental.reindex_page")
    tracer.wrap(incremental, "delete_page", "incremental.delete_page")
    tracer.wrap(incremental, "check_consistency", "incremental.check")
    # ingest.py imports reindex_batch by name
    tracer.wrap(ingest, "reindex_batch", "incremental.reindex_batch")
    tracer.wrap(ingest, "stream_pages", "streaming.stream_pages")
    tracer.wrap(pipeline, "clean_corpus", "pipeline.clean_corpus")


def derive(res, spans: list[dict], jobs: list[dict],
           span_cost: float) -> dict:
    """Every per-layer metric for one traced run; layers the workload
    does not reach read 0."""
    out = {name: 0.0 for name in LAYER_MAP}
    out.update({k: v for k, v in res.layers.items() if k in LAYER_MAP})
    win = res.windows
    req_windows = win.get("requests", [])

    def in_windows(ws):
        return [s for s in spans
                if any(a <= s["start"] <= b for a, b in ws)]

    # build (set-up of search)
    if "build" in win:
        bj = T.jobs_within(jobs, win["build"])
        out["build.jobs"] = len(bj)
        out["build.tasks"] = sum(j["tasks"] for j in bj)
        out["build.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in bj)
        out["build.spill_bytes"] = sum(j["spill"] for j in bj)

    # request path: the serving phase on the fresh store
    rs = in_windows(req_windows)
    n_req = len(T.named(rs, "service.search", "service.stats"))
    if n_req:
        out["service.meta_ms_per_req"] = \
            T.total_ms(rs, "index_store.meta") / n_req
        out["service.meta_calls_per_req"] = \
            len(T.named(rs, "index_store.meta")) / n_req
        out["service.spark_jobs_per_req"] = \
            len(T.jobs_within(jobs, req_windows)) / n_req
        for span_name, metric in SERVING.items():
            out[metric] = T.self_ms(rs, span_name) / n_req
        tried = T.named(rs, *SERVING)
        out["serving.served_frac"] = (
            sum(1 for s in tried if s["served"]) / len(tried)) if tried else 0
        out["codec.decode_ms"] = T.self_ms(rs, "codec.decode") / n_req
        out["codec.postings_decoded"] = sum(
            s["postings"] for s in T.named(rs, "codec.decode")) / n_req
        out["present.ms_per_req"] = T.total_ms(rs, "present") / n_req

    # searches of the edit phase, on the tombstoned store
    es = in_windows(win.get("edit_search", []))
    n_edit = len(T.named(es, "service.search"))
    if n_edit:
        dist = T.named(es, "wand.dist")
        out["wand.dist_ms_per_query"] = T.total_ms(es, "wand.dist") / n_edit
        out["wand.dist_jobs_per_query"] = len(T.jobs_within(
            jobs, [(s["start"], s["end"]) for s in dist])) / n_edit

    # writes (edit phase of search)
    for name in ("reindex_page", "delete_page"):
        sp = T.named(spans, f"incremental.{name}")
        out[f"incremental.{name}_s"] = ST.mean(
            [s["end"] - s["start"] for s in sp])
    if win.get("write"):
        out["incremental.jobs_per_write"] = \
            len(T.jobs_within(jobs, win["write"])) / len(win["write"])
    batch_s = T.total_ms(spans, "incremental.reindex_batch") / 1000
    out["incremental.reindex_batch_s"] = batch_s
    stream_s = T.total_ms(spans, "streaming.stream_pages") / 1000
    if stream_s:
        out["streaming.overhead_s"] = stream_s - batch_s

    # cleaning chain
    if win.get("pass"):
        cj = T.jobs_within(jobs, win["pass"])
        out["clean.jobs"] = len(cj) / len(win["pass"])
        out["clean.shuffle_write_bytes"] = \
            sum(j["shuffle_write"] for j in cj) / len(win["pass"])

    # tracing cost: calibrated per-span cost × spans in the timed
    # phase, as a share of the time the timed operations took
    busy = sum(b - a for a, b in win["timed"])
    n_spans = len(in_windows(win["timed"]))
    out["trace.overhead_frac"] = (n_spans * span_cost / busy) if busy else 0
    return out
