#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny size (about a minute).

Usage: python3 perfbench/selftest.py   (from the repository root)

Runs every workload once, traced, on tiny inputs (a few thousand keys;
the analytics plan over the sf0.001 test tables), then asserts:
  - every declared metric is emitted, with its declared unit;
  - every checker accepts the real answers and rejects planted wrong ones:
    a deleted key in a search page, a key at or before the cursor, a wrong
    listing n_keys, a wrong ingest row count, a missing live key, a
    failure no known fault explains, a result row that differs from the
    DuckDB oracle, and a cold result that differs from the warm one.
"""
import copy
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

SEED = 7


def expect(cond, what):
    if not cond:
        raise SystemExit(f"SELFTEST FAILED: {what}")
    print(f"ok   {what}")


def bench(workload):
    rc = run.main(["--workload", workload, "--seed", str(SEED), "--seconds", "3",
                   "--trace", "1", "--keep"])
    expect(rc == 0, f"{workload}: tiny traced run passes its checks")
    d = run.LAST_RUN_DIR
    with open(f"{d}/record.json") as fh:
        rec = json.load(fh)
    with open(f"{d}/result.json") as fh:
        res = json.load(fh)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    expect({k: v[1] for k, v in rec["end_to_end"].items()} == e2e,
           f"{workload}: every end-to-end metric emitted with its declared unit")
    expect(all(v[0] > 0 for v in rec["end_to_end"].values()),
           f"{workload}: end-to-end metrics are measured (non-zero)")
    expect({k: v[1] for k, v in rec["per_layer"].items()} == layers,
           f"{workload}: every per-layer metric emitted with its declared unit")
    return d, res


def planted_serve(d, res):
    with tempfile.TemporaryDirectory() as tmp:
        plan, model = W.gen_serve_read(tmp, SEED, run.host_cores())
        preds = checks.client_preds(d, plan["clients"])
    expect(checks.check_serve_read(d, res, plan, model) == [],
           "serve_read: the real answers pass")
    op = next(o for o in res["ops"] if o["kind"] == "search" and o["rows"] >= 2)
    live = model["live"][op["bucket"]]
    dead = model["deleted"][op["bucket"]]
    expect(bool(dead), "serve_read: the store holds deleted keys")
    bad = copy.deepcopy(op)
    bad["body"][-1] = dict(bad["body"][-1], key=dead[0])
    bad["body"].sort(key=lambda r: r["key"])
    expect(checks.check_search(bad, live, preds) != [],
           "serve_read: a deleted key in a search page is rejected")
    bad = copy.deepcopy(op)
    bad["start_key"] = op["body"][1]["key"]
    expect(checks.check_search(bad, live, preds) != [],
           "serve_read: a key at or before the cursor is rejected")
    page = {"kind": "list", "bucket": op["bucket"], "prefix": "", "start_after": None,
            "max_keys": 100, "status": 200}
    page["body"] = W.list_page(live, "", None, 100)
    expect(checks.check_list(page, live) == [], "serve_read: a model listing page passes")
    i = next(i for i, e in enumerate(page["body"]) if e[0] == "common_prefix")
    page["body"][i] = [page["body"][i][0], page["body"][i][1], page["body"][i][2] + 1]
    expect(checks.check_list(page, live) != [], "serve_read: a wrong n_keys is rejected")


def planted_ingest(d, res):
    with tempfile.TemporaryDirectory() as tmp:
        _, model = W.gen_ingest_compact(tmp, SEED, run.host_cores())
    expect(checks.check_ingest_compact(res, model) == [], "ingest_compact: the real answers pass")
    expect(checks.check_failures("ingest_compact", res) == [],
           "ingest_compact: every failure is a known fault's")
    faulted = [o for o in res["ops"] if o.get("fault") == "DELETED_KEY_SERVED"]
    expect(bool(faulted) and all(o["cycle"] >= 2 for o in faulted),
           "ingest_compact: searches on snapshots serving deleted keys (cycle 2 on) are failed")
    bad = copy.deepcopy(res)
    op = next(o for o in bad["ops"] if o["kind"] == "ingest" and o["status"] == "ok")
    op["rows_landed"] -= 1
    expect(checks.check_ingest_compact(bad, model) != [],
           "ingest_compact: a wrong landed row count is rejected")
    bad = copy.deepcopy(res)
    op = next(o for o in bad["ops"] if o["kind"] == "snapshot")
    op["keys"] = op["keys"][1:]
    expect(checks.check_ingest_compact(bad, model) != [],
           "ingest_compact: a snapshot missing a live key is rejected")
    bad = copy.deepcopy(res)
    op = next(o for o in bad["ops"] if o["kind"] == "search" and o["cycle"] < 2 and o["body"])
    op["body"][0] = dict(op["body"][0], key=model["deleted"][op["cycle"]][op["bucket"]][0])
    expect(checks.check_ingest_compact(bad, model) != [],
           "ingest_compact: a deleted key in a page of a correct snapshot is rejected")
    bad = copy.deepcopy(res)
    op = next(o for o in bad["ops"] if o["kind"] == "compact")
    op.update(status="failed", error="bucket-0: SparkException")
    expect(checks.check_failures("ingest_compact", bad) != [],
           "ingest_compact: a compaction failure is rejected")


def planted_analytics(d, res):
    import pandas as pd
    with open(f"{d}/inputs/plan.json") as fh:
        plan = json.load(fh)
    cache = os.path.join(run.build.build_dir(), "oracle-cache")
    expect(checks.check_analytics(d, res, plan, cache) == [], "analytics_sf01: the real answers pass")
    name = next(o["name"] for o in res["ops"] if o["rows"] > 0 and o["name"].startswith("q"))
    path = f"{d}/results/{name}"
    df = pd.read_parquet(path)
    col = df.columns[-1]
    df.loc[0, col] = (df.loc[0, col] + 1 if pd.api.types.is_numeric_dtype(df[col])
                      else str(df.loc[0, col]) + "x")
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    df.to_parquet(f"{path}/part-0.parquet")
    errors = checks.check_analytics(d, res, plan, cache)
    expect(errors and all(e.startswith(name) for e in errors),
           "analytics_sf01: a row that differs from the DuckDB oracle is rejected")
    bad = copy.deepcopy(res)
    op = next(o for o in bad["ops"] if o["name"] != name)
    op["cold_equals_warm"] = False
    errors = checks.check_analytics(d, bad, plan, cache)
    expect(f"{op['name']} (cold): rows differ from the warm result" in errors,
           "analytics_sf01: a cold result that differs from the warm one is rejected")


def main():
    # tiny inputs: the generators read these tables, the self-test shrinks them
    W.SERVE.update(buckets=2, events_per_bucket=1500, requests_per_client=200)
    W.INGEST.update(events_per_bucket_per_cycle=300, cycles=3, warm_searches=2)
    run.SF_DIR = os.path.join(os.path.dirname(run.SF_DIR), "sf0.001")
    run.ANALYTICS_STRIDE = 6
    planted_serve(*bench("serve_read"))
    planted_ingest(*bench("ingest_compact"))
    planted_analytics(*bench("analytics_sf01"))
    print("SELFTEST PASSED")
    return 0


if __name__ == "__main__":
    sys.exit(main())
