"""Correctness checks: graft's answers against models computed apart from
graft (workloads.py) and, for the analytics suite, against DuckDB running
each query's oracle SQL on the same parquet files.

Every check returns a list of error strings; an empty list means correct.
"""
import hashlib
import json
import os
import sys

import workloads as W

# The operations that may fail, each by a known fault (README, "Known
# faults"): workload -> (kind, error class). Any other failure is an error.
KNOWN_FAILURES = {
    "ingest_compact": {("ingest", "BATCH_METADATA_NOT_FOUND"), ("search", "DELETED_KEY_SERVED")},
}


def client_preds(run_dir, clients):
    preds = {"": ["all"]}
    for c in range(clients):
        with open(f"{run_dir}/inputs/client-{c}.jsonl") as fh:
            for line in fh:
                r = json.loads(line)
                if r["op"] == "search":
                    preds[r["where"]] = r["pred"]
    return preds


def failure_class(op):
    """The error class of a failed operation, or None if it succeeded."""
    if op.get("fault"):
        return op["fault"]
    if op.get("status", "ok") in ("ok", 200):
        return None
    return op.get("error") or f"HTTP {op['status']}"


def check_failures(workload, result):
    """Every failed operation must be one that a known fault explains."""
    known = KNOWN_FAILURES.get(workload, set())
    errors = []
    for op in result["ops"]:
        cls = failure_class(op)
        if cls is not None and (op["kind"], cls) not in known:
            errors.append(f"{op['kind']} {op.get('bucket') or op.get('name') or ''} "
                          f"failed: {cls}")
    return errors


def check_search(op, live, preds, served=frozenset()):
    """A search response must equal the model's page exactly: live, visible
    keys only, in key order, past the cursor, at most `limit`, with the
    projected fields.

    `served` holds deleted keys the snapshot is known to serve (a fault
    counted apart): such a key may appear in the page, and the page's live
    keys must then be exactly the model's matches in the key range the
    page covers."""
    where = op["where"]
    if where not in preds:
        return [f"search {op['bucket']} where={where!r}: no model predicate"]
    want = W.search_page(live, op["bucket"], preds[where], op.get("start_key"), op["limit"])
    got = op["body"]
    keys = [r.get("key") for r in got]
    if served:
        # a full page covers the snapshot's matches up to its last key
        if len(got) == op["limit"]:
            want = [r for r in want if r["key"] <= keys[-1]]
        ordered = keys == sorted(set(keys)) and not any("\x00" in k for k in keys) and (
            op.get("start_key") is None or all(k > op["start_key"] for k in keys))
        if ordered and len(got) <= op["limit"] and [r for r in got if r["key"] not in served] == want:
            return []
    elif got == want:
        return []
    why = []
    if len(got) > op["limit"]:
        why.append(f"{len(got)} rows over limit {op['limit']}")
    if keys != sorted(keys):
        why.append("keys out of order")
    if op.get("start_key") is not None and any(k <= op["start_key"] for k in keys):
        why.append("key at or before the cursor")
    dead = [k for k in keys if k not in live and k not in served]
    if dead:
        why.append(f"not live: {dead[:3]}")
    if any("\x00" in k for k in keys):
        why.append("versioned NUL key shown")
    if not why:
        diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
        why.append(f"row {diff} differs: got {got[diff] if diff is not None else None} "
                   f"want {want[diff] if diff is not None else None}"
                   if diff is not None else f"{len(got)} rows, model has {len(want)}")
    return [f"search {op['bucket']} where={where!r} start_key={op.get('start_key')!r}: "
            + "; ".join(why)]


def check_list(op, live):
    want = W.list_page(live, op["prefix"], op.get("start_after"), op["max_keys"])
    got = op["body"]
    if got == want:
        return []
    why = []
    for g, w in zip(got, want):
        if g != w:
            why.append(f"got {g} want {w}")
            break
    if not why:
        why.append(f"{len(got)} entries, model has {len(want)}")
    return [f"list {op['bucket']} prefix={op['prefix']!r} after={op.get('start_after')!r}: "
            + "; ".join(why)]


def check_serve_read(run_dir, result, plan, model):
    preds = client_preds(run_dir, plan["clients"])
    errors = []
    for op in result["ops"]:
        if op["status"] != 200:
            continue          # a failure, reported by check_failures
        if op["kind"] == "search":
            errors += check_search(op, model["live"][op["bucket"]], preds)
        elif op["kind"] == "list":
            errors += check_list(op, model["live"][op["bucket"]])
        elif op["kind"] == "invalidate" and op["body"] != '{"ok":true}':
            errors.append(f"invalidate {op['bucket']}: {op['body']}")
    if not any(op["kind"] == "search" and op["cold"] for op in result["ops"]):
        errors.append("no search after an invalidation was measured")
    return errors


def check_ingest_compact(result, model):
    """Per round, in cycle order: an ingest lands exactly the journal's
    non-system rows pending since the last successful ingest; after each
    compaction every bucket's live key set, and every search page, equal
    the model's state after that cycle.

    Known fault: a snapshot may serve keys the model has deleted. The
    bucket's searches of that cycle are then marked failed
    (DELETED_KEY_SERVED, counted by metrics.counts) and their pages are
    checked without those keys; a missing key, or a served key that was
    never deleted, is still an error."""
    errors = []
    rounds = {}
    for op in result["ops"]:
        rounds.setdefault(op["round"], []).append(op)
    for rnd, ops in sorted(rounds.items()):
        pending = 0
        cycle_seen = -1
        for op in ops:
            k = op["cycle"]
            while cycle_seen < k:
                cycle_seen += 1
                pending += model["rows"][cycle_seen]
            if op["kind"] == "ingest" and op["status"] == "ok":
                if op["rows_landed"] != pending:
                    errors.append(f"round {rnd} cycle {k}: landed {op['rows_landed']} rows, "
                                  f"journal holds {pending} non-system rows")
                pending = 0
        # the snapshot's key set decides how the searches before it are judged
        served = {}
        for op in ops:
            if op["kind"] != "snapshot":
                continue
            k, b = op["cycle"], op["bucket"]
            live, deleted = model["states"][k][b], set(model["deleted"][k][b])
            keys = set(op["keys"])
            extra = keys - set(live)
            missing = set(live) - keys
            wrong = extra - deleted
            if missing or wrong or len(keys) != len(op["keys"]):
                errors.append(f"round {rnd} cycle {k} {b}: {len(op['keys'])} keys, model has "
                              f"{len(live)}; missing {sorted(missing)[:3]}, "
                              f"never deleted {sorted(wrong)[:3]}")
            served[(k, b)] = frozenset(extra & deleted)
        for op in ops:
            if op["kind"] != "search":
                continue
            k, b = op["cycle"], op["bucket"]
            if (k, b) not in served:
                errors.append(f"round {rnd} cycle {k} {b}: no snapshot keys recorded")
                continue
            if served[(k, b)]:
                op["fault"] = "DELETED_KEY_SERVED"
            errors += [f"round {rnd} cycle {k}: {e}" for e in
                       check_search(op, model["states"][k][b], model["preds"], served[(k, b)])]
    return errors


# ---- analytics: DuckDB oracle ------------------------------------------------
def crosscheck():
    """scripts/crosscheck.py, the repository's own oracle comparison: its
    table list and row normalization are reused so both judge alike."""
    scripts = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import crosscheck as cc
    return cc


def digest(df):
    rows = crosscheck().normalize(df)
    h = hashlib.sha256(json.dumps(sorted(df.columns)).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return {"columns": sorted(df.columns), "rows": len(rows), "sha256": h.hexdigest()}


def data_identity(sf_dir):
    parts = []
    for t in crosscheck().TABLES:
        p = f"{sf_dir}/{t}.parquet"
        st = os.stat(p)
        parts.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
    return ";".join(parts)


def oracle_connection(sf_dir):
    """DuckDB with every test table as a view, loaded as crosscheck.py
    loads them (a directory of parts, or events.ts as epoch-nanos)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in crosscheck().TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        sel = "*"
        if t == "events":
            typ = con.sql(f"SELECT typeof(ts) FROM '{path}' LIMIT 1").fetchone()[0]
            if typ == "BIGINT":
                sel = "* REPLACE (make_timestamp(ts // 1000) AS ts)"
        con.execute(f"CREATE VIEW {t} AS SELECT {sel} FROM '{path}'")
    return con


def oracle_digests(sf_dir, oracle_sql, cache_dir):
    """DuckDB's answer digest per query, cached per (SQL, data files): the
    data is read-only, so a result computed once per checkout stays valid."""
    os.makedirs(cache_dir, exist_ok=True)
    ident = data_identity(sf_dir)
    out, con = {}, None
    for name, sql in oracle_sql.items():
        key = hashlib.sha256((ident + "\n" + sql).encode()).hexdigest()
        path = f"{cache_dir}/{key}.json"
        if os.path.exists(path):
            with open(path) as fh:
                out[name] = json.load(fh)
            continue
        if con is None:
            con = oracle_connection(sf_dir)
        d = digest(con.sql(sql).df())
        with open(f"{path}.tmp", "w") as fh:
            json.dump(d, fh)
        os.replace(f"{path}.tmp", path)
        out[name] = d
    return out


def check_analytics(run_dir, result, plan, cache_dir):
    import pandas as pd
    with open(f"{run_dir}/oracle_sql.json") as fh:
        oracle_sql = json.load(fh)
    want = oracle_digests(plan["sf_dir"], oracle_sql, cache_dir)
    errors = []
    for op in result["ops"]:
        name = op["name"]
        if op["status"] != "ok":
            continue          # a failure, reported by check_failures
        if name not in want:
            errors.append(f"{name}: no oracle SQL")
            continue
        if not op["cold_equals_warm"]:
            errors.append(f"{name} (cold): rows differ from the warm result")
        got = digest(pd.read_parquet(f"{run_dir}/results/{name}"))
        w = want[name]
        if got["columns"] != w["columns"]:
            errors.append(f"{name}: columns {got['columns']} != oracle {w['columns']}")
        elif got["rows"] != w["rows"]:
            errors.append(f"{name}: {got['rows']} rows, oracle has {w['rows']}")
        elif got["sha256"] != w["sha256"]:
            errors.append(f"{name}: values differ from the oracle")
    return errors
