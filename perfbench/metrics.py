"""Metrics of one run, computed from the harness's raw records.

End-to-end metrics are defined on every workload (BENCHMARK.json holds one
list for all of them); what each one measures on each workload is in the
README. Per-layer metrics come from the traced run; a layer metric reads 0
on a workload that does not run that layer.
"""
import json

import checks

END_TO_END = {            # name -> unit
    "setup_s": "s",
    "cold_p50_ms": "ms",
    "warm_p50_ms": "ms",
    "throughput": "1/s",
}

ANALYTICS_MODULES = ["clueso", "relational", "events", "dedup", "similarity", "text",
                     "multimodal"]

PER_LAYER = {
    "search.exec_ms": "ms",
    "search.queue_ms": "ms",
    "search.planning_ms": "ms",
    "search.tasks_per_req": "count",
    "search.rows_examined_per_row": "ratio",
    "search.rebuilds": "count",
    "search.rebuild_task_s": "s",
    "search.list_ms": "ms",
    "search.list_planning_ms": "ms",
    "search.list_rows_examined_per_name": "ratio",
    "search.list_shuffle_kb": "KB",
    "ingest.call_ms": "ms",
    "ingest.start_ms": "ms",
    "ingest.add_batch_ms": "ms",
    "ingest.commit_ms": "ms",
    "ingest.files_per_batch": "count",
    "ingest.bytes_per_row": "B",
    "ingest.failed": "count",
    "compact.call_ms": "ms",
    "compact.task_s": "s",
    "compact.shuffle_mb": "MB",
    "compact.spill_mb": "MB",
    "compact.rows_out_per_in": "ratio",
    "compact.files_written": "count",
    "ops.snapshot_rebuild_ms": "ms",
    "ops.zone_builds": "count",
    "ops.zone_build_s": "s",
    **{f"analytics.{m}.{p}_s": "s" for m in ANALYTICS_MODULES for p in ("cold", "warm")},
    "analytics.planning_s": "s",
    "analytics.task_s": "s",
    "analytics.shuffle_write_mb": "MB",
    "analytics.spill_mb": "MB",
    "jvm.gc_ms_per_s": "ms/s",
}


def pct(values, q):
    """The q-quantile (0 < q < 1), linear between closest ranks."""
    v = sorted(values)
    if not v:
        return 0.0
    x = (len(v) - 1) * q
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def p50(values):
    return pct(values, 0.5)


def ops_of(result, kind, **match):
    return [o for o in result["ops"] if o["kind"] == kind
            and all(o.get(k) == v for k, v in match.items())]


def counts(workload, result):
    """(attempted, failed, failures by error class). Run after the checks,
    which mark the searches a known fault spoiled (checks.check_ingest_compact)."""
    if workload == "analytics_sf01":
        attempted = 2 * len(result["ops"])          # a cold and a warm execution each
    else:
        attempted = sum(o["kind"] != "snapshot" for o in result["ops"])
    failures = {}
    for o in result["ops"]:
        cls = checks.failure_class(o)
        if cls is not None:
            failures[cls] = failures.get(cls, 0) + 1
    return attempted, sum(failures.values()), failures


def reads(workload, result):
    """(cold latencies, warm latencies) in ms."""
    if workload == "analytics_sf01":
        ok = [o for o in result["ops"] if o["status"] == "ok"]
        return [o["cold_ms"] for o in ok], [o["warm_ms"] for o in ok]
    s = [o for o in ops_of(result, "search") if o["status"] == 200]
    return ([o["latency_ms"] for o in s if o["cold"]],
            [o["latency_ms"] for o in s if not o["cold"]])


def throughput(workload, result):
    if workload == "serve_read":
        warm = [o for o in ops_of(result, "search", cold=False) if o["status"] == 200]
        return len(warm) / (result["measured_s"] - result["paused_s"])
    if workload == "ingest_compact":
        ing = ops_of(result, "ingest", status="ok")
        comp = ops_of(result, "compact", status="ok")
        rows = sum(o["rows_landed"] for o in ing) + sum(o["rows_folded"] for o in comp)
        return rows / (sum(o["latency_ms"] for o in ing + comp) / 1000.0)
    ok = [o for o in result["ops"] if o["status"] == "ok"]
    return 2 * len(ok) / (sum(o["cold_ms"] + o["warm_ms"] for o in ok) / 1000.0)


def end_to_end(workload, result, model, setup_s):
    cold, warm = reads(workload, result)
    vals = {
        "setup_s": setup_s,
        "cold_p50_ms": p50(cold),
        "warm_p50_ms": p50(warm),
        "throughput": throughput(workload, result),
    }
    return {k: (vals[k], END_TO_END[k]) for k in END_TO_END}


def live_keys(workload, model):
    if workload == "serve_read":
        return sum(len(v) for v in model["live"].values())
    return 0


def detail(workload, result, model):
    """The workload's own figures, under the names the design uses."""
    cold, warm = reads(workload, result)
    d = {"n_cold": len(cold), "n_warm": len(warm), "measured_s": result["measured_s"],
         "gc_ms": result["gc_ms"], "warm_p90_ms": pct(warm, 0.9)}
    if workload == "serve_read":
        lists = [o["latency_ms"] for o in ops_of(result, "list")]
        keys = live_keys(workload, model)
        d.update({
            "search_p50_ms": p50(warm), "search_p95_ms": pct(warm, 0.95),
            "search_p99_ms": pct(warm, 0.99) if len(warm) >= 1000 else None,
            "search_qps": throughput(workload, result),
            "cold_search_p50_ms": p50(cold), "list_p50_ms": p50(lists), "n_list": len(lists),
            "live_keys": keys,
            "store_bytes_per_key": result["store_bytes"] / keys,
            "cache_bytes_per_key": result["cache_bytes"] / keys,
            "setup_ingest_s": result["ingest_s"], "setup_compact_s": result["compact_s"],
            "invalidations": len(ops_of(result, "invalidate")),
        })
    elif workload == "ingest_compact":
        ing = ops_of(result, "ingest", status="ok")
        comp = ops_of(result, "compact", status="ok")
        d.update({
            "rounds": result["rounds"],
            "ingest_ok": len(ing), "ingest_failed": len(ops_of(result, "ingest", status="failed")),
            "ingest_rows_per_s": sum(o["rows_landed"] for o in ing)
            / (sum(o["latency_ms"] for o in ing) / 1000.0),
            "compact_rows_per_s": sum(o["rows_folded"] for o in comp)
            / (sum(o["latency_ms"] for o in comp) / 1000.0),
            "ingest_ms": [round(o["latency_ms"], 1) for o in ing],
            "compact_ms": [round(o["latency_ms"], 1) for o in comp],
            "cold_search_ms": [round(x, 1) for x in cold],
        })
    else:
        ok = [o for o in result["ops"] if o["status"] == "ok"]
        d.update({
            "analytics_cold_s": sum(o["cold_ms"] for o in ok) / 1000.0,
            "analytics_warm_s": sum(o["warm_ms"] for o in ok) / 1000.0,
            "queries": {o["name"]: [round(o["cold_ms"], 1), round(o["warm_ms"], 1),
                                    o["cold_zone_builds"]] for o in result["ops"]},
        })
    return d


def span_self_times(run_dir):
    """Self time per layer: a span's duration minus what its child spans
    cover, summed by the layer prefix of the span name."""
    spans = {}
    try:
        with open(f"{run_dir}/spans.jsonl") as fh:
            for line in fh:
                s = json.loads(line)
                spans[s["id"]] = s
    except FileNotFoundError:
        return {}
    child = {}
    for s in spans.values():
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans.values():
        layer = s["name"].split(".")[0]
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[layer] = out.get(layer, 0.0) + own / 1e9
    return out


def per_layer(workload, result, model, run_dir):
    v = {k: 0.0 for k in PER_LAYER}
    ts = result.get("task_stats", {})
    acts = result.get("actions", [])

    def stat(tag, field):
        return ts.get(tag, {}).get(field, 0)

    cold, warm = reads(workload, result)
    if workload != "analytics_sf01":
        searches = [o for o in ops_of(result, "search") if o["status"] == 200]
        sacts = [a for a in acts if a["func"] == "collect" and a["columns"] == ["value"]]
        v["search.planning_ms"] = p50([a["planning_ms"] for a in sacts])
        v["search.tasks_per_req"] = stat("search", "tasks") / max(1, len(searches))
        v["search.rows_examined_per_row"] = (sum(a["cache_scan_rows"] for a in sacts)
                                             / max(1, sum(len(o["body"]) for o in searches)))
        v["search.rebuild_task_s"] = stat("rebuild", "run_s")
        v["ops.snapshot_rebuild_ms"] = p50(cold)
    if workload == "serve_read":
        lists = ops_of(result, "list")
        lacts = [a for a in acts if a["columns"] == ["stratum", "name", "n_keys"]]
        v["search.exec_ms"] = result["server_exec_p50_ms"]
        v["search.queue_ms"] = max(0.0, p50(warm) - result["server_exec_p50_ms"])
        v["search.rebuilds"] = result["rebuilds"]
        v["search.list_ms"] = p50([o["latency_ms"] for o in lists])
        v["search.list_planning_ms"] = p50([a["planning_ms"] for a in lacts])
        v["search.list_rows_examined_per_name"] = (sum(a["scan_rows"] + a["cache_scan_rows"]
                                                       for a in lacts)
                                                   / max(1, sum(o["rows"] for o in lists)))
        v["search.list_shuffle_kb"] = stat("list", "shuffle_write_bytes") / 1024 / max(1, len(lists))
        v["ingest.call_ms"] = result["ingest_s"] * 1000
        v["ingest.files_per_batch"] = result["landed_files"]
        v["ingest.bytes_per_row"] = result["landed_bytes"] / max(1, result["journal_rows"])
        v["compact.call_ms"] = result["compact_s"] * 1000
        v["compact.task_s"] = stat("compact", "run_s")
        v["compact.shuffle_mb"] = stat("compact", "shuffle_write_bytes") / 2**20
        v["compact.spill_mb"] = stat("compact", "spill_bytes") / 2**20
        v["compact.files_written"] = result["staging_files"]
        v["compact.rows_out_per_in"] = result["staging_rows"] / max(1, result["rows_folded"])
    elif workload == "ingest_compact":
        ing = ops_of(result, "ingest", status="ok")
        comp = ops_of(result, "compact", status="ok")
        folded = [o for o in comp if o["rows_folded"] > 0]
        v["ingest.call_ms"] = p50([o["latency_ms"] for o in ing])
        v["ingest.start_ms"] = p50([o["start_ms"] for o in ing])
        v["ingest.add_batch_ms"] = p50([o["add_batch_ms"] for o in ing])
        v["ingest.commit_ms"] = p50([o["commit_ms"] for o in ing])
        v["ingest.files_per_batch"] = (sum(o["files_added"] for o in ing)
                                       / max(1, sum(o["batches"] for o in ing)))
        v["ingest.bytes_per_row"] = (sum(o["bytes_added"] for o in ing)
                                     / max(1, sum(o["rows_landed"] for o in ing)))
        v["ingest.failed"] = len(ops_of(result, "ingest", status="failed"))
        v["compact.call_ms"] = p50([o["latency_ms"] for o in comp])
        v["compact.task_s"] = stat("compact", "run_s") / max(1, len(comp))
        v["compact.shuffle_mb"] = stat("compact", "shuffle_write_bytes") / 2**20 / max(1, len(comp))
        v["compact.spill_mb"] = stat("compact", "spill_bytes") / 2**20 / max(1, len(comp))
        v["compact.rows_out_per_in"] = (sum(o["staging_rows_added"] for o in folded)
                                        / max(1, sum(o["rows_folded"] for o in folded)))
        v["compact.files_written"] = (sum(o["staging_files_added"] for o in folded)
                                      / max(1, len(folded)))
        v["search.rebuilds"] = result["rebuilds"]
        v["search.exec_ms"] = p50(warm)
    else:
        ok = [o for o in result["ops"] if o["status"] == "ok"]
        mods = model or {}
        for o in ok:
            m = mods.get(o["name"], "other")
            if m in ANALYTICS_MODULES:
                v[f"analytics.{m}.cold_s"] += o["cold_ms"] / 1000
                v[f"analytics.{m}.warm_s"] += o["warm_ms"] / 1000
        v["ops.zone_builds"] = sum(o["cold_zone_builds"] + o["warm_zone_builds"] for o in ok)
        v["ops.zone_build_s"] = sum((o["cold_ms"] - o["warm_ms"]) / 1000 for o in ok
                                    if o["cold_zone_builds"] > 0)
        v["analytics.planning_s"] = sum(a["planning_ms"] for a in acts
                                        if a["func"] == "collect") / 1000
        v["analytics.task_s"] = stat("analytics.warm", "run_s")
        v["analytics.shuffle_write_mb"] = stat("analytics.warm", "shuffle_write_bytes") / 2**20
        v["analytics.spill_mb"] = stat("analytics.warm", "spill_bytes") / 2**20
    v["jvm.gc_ms_per_s"] = result["gc_ms"] / max(1e-9, result["uptime_s"])
    return {k: (float(v[k]), PER_LAYER[k]) for k in PER_LAYER}
