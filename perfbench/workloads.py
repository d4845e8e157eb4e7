"""Seeded inputs of the three workloads, and the models the checks compare
graft's answers with. Everything here is plain Python: the models never
call graft.

serve_read and ingest_compact share one event generator: S3-style object
metadata events (puts, overwrites, deletes, NUL-separated versioned keys,
`x-amz-meta-*` fields, `/`-delimited key prefixes) plus events of system
buckets that ingestion must drop.
"""
import hashlib
import json
import os
import random
import re

SYSTEM_BUCKETS = ["users..bucket", "__metastore", "PENSIEVE", "mpuShadowBucket-0001"]
DIRS = ["photos/2022/", "photos/2023/", "photos/2024/", "docs/reports/",
        "docs/drafts/", "logs/app/", "logs/web/", "backup/", ""]
LIST_PREFIXES = ["", "photos/", "docs/", "logs/", "photos/2023/", "backup/"]
COLORS = ["red", "green", "blue", "black", "white"]
PROJECTS = ["apollo", "gemini", "mercury", "voyager"]
OWNERS = [f"owner-{i:02d}" for i in range(6)]
STORAGE_CLASSES = ["STANDARD", "STANDARD_IA", "GLACIER"]
RESULT_COLUMNS = ["key", "last-modified", "content-md5", "owner-id",
                  "owner-display-name", "content-length", "x-amz-storage-class",
                  "bucket"]
GROUP_INTERVAL = 10000  # IngestPipeline's default op-group width

# Event shares of both store workloads; the remainder are puts of new keys.
# Assumed, not measured (no trace of a real store is at hand): see README.
EVENT_SHARES = {"overwrite": 0.20, "delete": 0.08, "versioned": 0.06, "system": 0.04}

# ---- serve_read ------------------------------------------------------------
SERVE = {
    "buckets": 6,
    "events_per_bucket": 8000,
    "zipf_s": 1.0,            # bucket popularity ~ 1/rank^s
    "clients": 4,
    "requests_per_client": 6000,
    # requests in every block of 20, per client
    "mix": [("search", 13), ("search_next", 3), ("list", 3), ("list_next", 1)],
    "search_limit": 100, "list_max_keys": 100,
    "invalidate_every_ms": 2000,
    "ttl_ms": 3_600_000,      # beyond any run: rebuilds only at invalidations
}

# ---- ingest_compact ----------------------------------------------------------
INGEST = {
    "buckets": 2,
    "events_per_bucket_per_cycle": 2500,
    "cycles": 11,             # the file sink compacts its log at batch 9
    "warm_searches": 6,
    "search_limit": 100,
    "ttl_ms": 3_600_000,
}


def zipf_weights(n, s):
    w = [1.0 / (i + 1) ** s for i in range(n)]
    t = sum(w)
    return [x / t for x in w]


class IndexedSet:
    """A set with O(1) add, remove and uniform random choice."""

    def __init__(self):
        self.items, self.pos = [], {}

    def add(self, x):
        if x not in self.pos:
            self.pos[x] = len(self.items)
            self.items.append(x)

    def discard(self, x):
        i = self.pos.pop(x, None)
        if i is not None:
            last = self.items.pop()
            if i < len(self.items):
                self.items[i] = last
                self.pos[last] = i

    def choice(self, rng):
        return self.items[rng.randrange(len(self.items))] if self.items else None


class EventStream:
    """Generates journal lines and keeps the latest event per key.

    `old_deletes[b]` counts the deletes in bucket b, since the last
    `new_cycle(first_op)` call, of keys last written before `first_op`."""

    def __init__(self, rng, buckets):
        self.rng = rng
        self.buckets = buckets
        self.latest = {b: {} for b in buckets}    # key -> (op, type, fields)
        self.live_keys = {b: IndexedSet() for b in buckets}
        self.next_id = {b: 0 for b in buckets}
        self.new_cycle(0)

    def new_cycle(self, first_op):
        self.cycle_first_op = first_op
        self.old_deletes = {b: 0 for b in self.buckets}

    def fields(self, bucket, key, op):
        r = self.rng
        owner = r.choice(OWNERS)
        ms = r.randrange(0, 365 * 86400 * 1000)
        sec, msec = divmod(ms, 1000)
        day, rem = divmod(sec, 86400)
        ts = "2024-%02d-%02dT%02d:%02d:%02d.%03dZ" % (
            1 + day // 31 % 12, 1 + day % 28, rem // 3600, rem // 60 % 60, rem % 60, msec)
        return {
            "owner-id": owner,
            "owner-display-name": "Account " + owner,
            "content-length": r.randrange(0, 1_000_000),
            "content-md5": hashlib.md5(f"{bucket}/{key}/{op}".encode()).hexdigest(),
            "last-modified": ts,
            "x-amz-storage-class": r.choice(STORAGE_CLASSES),
            "x-amz-meta-color": r.choice(COLORS),
            "x-amz-meta-project": r.choice(PROJECTS),
        }

    @staticmethod
    def line(op, typ, bucket, key, fields):
        value = {}
        if fields is not None:
            value = {
                "md-model-version": 3, "owner-display-name": fields["owner-display-name"],
                "owner-id": fields["owner-id"], "content-length": fields["content-length"],
                "content-type": "application/octet-stream",
                "last-modified": fields["last-modified"],
                "content-md5": fields["content-md5"], "x-amz-version-id": "null",
                "x-amz-storage-class": fields["x-amz-storage-class"],
                "acl": {"Canned": "private", "FULL_CONTROL": [], "WRITE_ACP": [],
                        "READ": [], "READ_ACP": []},
                "location": [{"key": fields["content-md5"], "size": fields["content-length"],
                              "start": 0, "dataStoreName": "file",
                              "dataStoreETag": "1:" + fields["content-md5"]}],
                "isDeleteMarker": False, "tags": {},
                "replicationInfo": {"status": "", "content": [], "destination": "",
                                    "storageClass": "", "role": ""},
                "dataStoreName": "zone-1", "key": key, "bucket": bucket,
                "x-amz-meta-color": fields["x-amz-meta-color"],
                "x-amz-meta-project": fields["x-amz-meta-project"],
            }
        return json.dumps({"opIndex": "%012d_%06d" % (op, op % 997), "type": typ,
                           "bucket": bucket, "key": key, "value": json.dumps(value)})

    def new_key(self, bucket):
        n = self.next_id[bucket]
        self.next_id[bucket] += 1
        d = self.rng.choice(DIRS)
        return f"{d}obj-{n:06d}.{self.rng.choice(['jpg', 'txt', 'bin'])}"

    def event(self, op, bucket, shares):
        """One event at record number `op`: (journal line, lands in graft)."""
        r = self.rng
        x = r.random()
        live = self.live_keys[bucket]
        if x < shares["system"]:
            sb = r.choice(SYSTEM_BUCKETS)
            return self.line(op, "put", sb, f"sys-{op}", self.fields(sb, "k", op)), False
        x -= shares["system"]
        key = None
        if x < shares["overwrite"]:
            key = live.choice(r)
        elif x < shares["overwrite"] + shares["delete"]:
            victim = live.choice(r)
            if victim is not None:
                if self.latest[bucket][victim][0] < self.cycle_first_op:
                    self.old_deletes[bucket] += 1
                self.latest[bucket][victim] = (op, "delete", None)
                live.discard(victim)
                return self.line(op, "delete", bucket, victim, None), True
        elif x < shares["overwrite"] + shares["delete"] + shares["versioned"]:
            base = live.choice(r)
            if base is not None:
                key = base.split("\x00")[0] + "\x00" + "%012d" % op
        if key is None:
            key = self.new_key(bucket)
        f = self.fields(bucket, key, op)
        self.latest[bucket][key] = (op, "put", f)
        live.add(key)
        return self.line(op, "put", bucket, key, f), True

    def live(self, bucket):
        return {k: v[2] for k, v in self.latest[bucket].items() if v[1] == "put"}

    def deleted(self, bucket):
        return sorted(k for k, v in self.latest[bucket].items() if v[1] == "delete")


# ---- the search model ------------------------------------------------------------
# WHERE templates and how many of every 20 searches use each
TEMPLATES = [("all", 2), ("between", 5), ("color", 4), ("owner", 3), ("prefix", 3),
             ("gt_project", 3)]


def where_clause(rng, kind):
    """A WHERE clause of template `kind`, and the predicate that means the
    same in Python."""
    if kind == "all":
        return "", ["all"]
    if kind == "between":
        lo = rng.randrange(0, 900_000)
        hi = lo + rng.randrange(20_000, 200_000)
        return f"`content-length` BETWEEN {lo} AND {hi}", ["between", lo, hi]
    if kind == "color":
        c = rng.choice(COLORS)
        return f"userMd['x-amz-meta-color'] = '{c}'", ["color", c]
    if kind == "owner":
        o = rng.choice(OWNERS)
        return f"`owner-id` = '{o}'", ["owner", o]
    if kind == "prefix":
        d = rng.choice([x for x in DIRS if x])
        return f"key LIKE '{d}%'", ["prefix", d]
    lo = rng.randrange(0, 900_000)
    p = rng.choice(PROJECTS)
    return (f"`content-length` > {lo} AND userMd['x-amz-meta-project'] = '{p}'",
            ["gt_project", lo, p])


def balanced(rng, counts):
    """Endless shuffled blocks holding each item exactly `count` times, so
    any prefix of the stream has close to the intended shares."""
    block = [k for k, n in counts for _ in range(n)]
    while True:
        rng.shuffle(block)
        yield from block


def matches(pred, key, f):
    kind = pred[0]
    if kind == "all":
        return True
    if kind == "between":
        return pred[1] <= f["content-length"] <= pred[2]
    if kind == "color":
        return f["x-amz-meta-color"] == pred[1]
    if kind == "owner":
        return f["owner-id"] == pred[1]
    if kind == "prefix":
        return key.startswith(pred[1])
    if kind == "gt_project":
        return f["content-length"] > pred[1] and f["x-amz-meta-project"] == pred[2]
    raise ValueError(pred)


def search_page(live, bucket, pred, start_key, limit):
    keys = sorted(k for k, f in live.items()
                  if "\x00" not in k and (start_key is None or k > start_key)
                  and matches(pred, k, f))[:limit]
    return [dict({c: live[k][c] for c in RESULT_COLUMNS if c not in ("key", "bucket")},
                 key=k, bucket=bucket) for k in keys]


def list_page(live, prefix, start_after, max_keys):
    groups = {}
    for k in live:
        if "\x00" in k or not k.startswith(prefix):
            continue
        pos = k.find("/", len(prefix))
        if pos >= 0:
            name = k[:pos + 1]
            groups[name] = ("common_prefix", groups.get(name, ("", 0))[1] + 1)
        else:
            groups[k] = ("object", 1)
    names = sorted(n for n in groups if start_after is None or n > start_after)[:max_keys]
    return [[groups[n][0], n, groups[n][1]] for n in names]


# ---- generation ----------------------------------------------------------------
def gen_serve_read(run_dir, seed, cores):
    cfg = dict(SERVE)
    rng = random.Random(seed)
    buckets = [f"bucket-{i}" for i in range(cfg["buckets"])]
    stream = EventStream(rng, buckets)
    per_bucket = cfg["events_per_bucket"]
    total = per_bucket * len(buckets)
    os.makedirs(f"{run_dir}/inputs/journal")
    rows = 0
    lines = []
    for op in range(1, total + 1):
        line, counted = stream.event(op, rng.choice(buckets), EVENT_SHARES)
        lines.append(line)
        rows += counted
    # several journal files, as a journal tailer leaves them
    nfiles = 4
    for i in range(nfiles):
        with open(f"{run_dir}/inputs/journal/part-{i}.json", "w") as fh:
            fh.write("\n".join(lines[i::nfiles]) + "\n")
    weights = zipf_weights(len(buckets), cfg["zipf_s"])
    for c in range(cfg["clients"]):
        crng = random.Random(seed * 1000 + c + 1)
        ops, kinds = balanced(crng, cfg["mix"]), balanced(crng, TEMPLATES)
        with open(f"{run_dir}/inputs/client-{c}.jsonl", "w") as fh:
            for _ in range(cfg["requests_per_client"]):
                op = next(ops)
                b = crng.choices(buckets, weights)[0]
                if op == "search":
                    where, pred = where_clause(crng, next(kinds))
                    req = {"op": op, "bucket": b, "where": where, "pred": pred}
                elif op == "list":
                    req = {"op": op, "bucket": b, "prefix": crng.choice(LIST_PREFIXES)}
                else:
                    req = {"op": op}
                fh.write(json.dumps(req) + "\n")
    # invalidations visit the buckets round-robin from a seeded start
    start = rng.randrange(len(buckets))
    inv = [buckets[(start + i) % len(buckets)] for i in range(len(buckets))]
    plan = {"cores": cores, "buckets": buckets, "journal_rows": rows,
            "clients": cfg["clients"], "search_limit": cfg["search_limit"],
            "list_max_keys": cfg["list_max_keys"], "ttl_ms": cfg["ttl_ms"],
            "invalidate_every_ms": cfg["invalidate_every_ms"], "invalidate_order": inv}
    write_json(f"{run_dir}/inputs/plan.json", plan)
    model = {"live": {b: stream.live(b) for b in buckets},
             "deleted": {b: stream.deleted(b) for b in buckets}}
    return plan, model


def gen_ingest_compact(run_dir, seed, cores):
    cfg = dict(INGEST)
    rng = random.Random(seed)
    buckets = [f"bucket-{i}" for i in range(cfg["buckets"])]
    per = cfg["events_per_bucket_per_cycle"]
    assert per * len(buckets) < GROUP_INTERVAL    # a cycle fits one op-group
    os.makedirs(f"{run_dir}/inputs")
    stream = EventStream(rng, buckets)
    cycles, states, deleted, expected_rows = [], [], [], []
    for k in range(cfg["cycles"]):
        base = k * GROUP_INTERVAL   # one op-group per cycle
        stream.new_cycle(base + 1)
        lines, rows = [], 0
        for i in range(per * len(buckets)):
            line, counted = stream.event(base + 1 + i, rng.choice(buckets), EVENT_SHARES)
            lines.append(line)
            rows += counted
        # every bucket deletes keys of earlier cycles from cycle 1 on, so
        # the known compaction fault (README) shows in every bucket from
        # the compaction after cycle 2 on, whatever the seed
        if k >= 1:
            assert all(stream.old_deletes.values()), (k, stream.old_deletes)
        name = f"inputs/cycle-{k:02d}.json"
        with open(f"{run_dir}/{name}", "w") as fh:
            fh.write("\n".join(lines) + "\n")
        cycles.append(name)
        expected_rows.append(rows)
        states.append({b: stream.live(b) for b in buckets})
        deleted.append({b: stream.deleted(b) for b in buckets})
    wrng = random.Random(seed + 7)
    kinds = balanced(wrng, TEMPLATES)
    warm_wheres, preds = [], {}
    for k in range(cfg["cycles"]):
        ws = []
        for _ in range(cfg["warm_searches"]):
            where, pred = where_clause(wrng, next(kinds))
            ws.append(where)
            preds[where] = pred
        warm_wheres.append(ws)
    preds[""] = ["all"]
    # set-up cycle: same shape, its own stream
    wstream = EventStream(random.Random(seed + 13), buckets)
    with open(f"{run_dir}/inputs/warmup.json", "w") as fh:
        for i in range(per * len(buckets)):
            fh.write(wstream.event(1 + i, wstream.rng.choice(buckets), EVENT_SHARES)[0] + "\n")
    plan = {"cores": cores, "buckets": buckets, "cycles": cycles,
            "warm_wheres": warm_wheres, "search_limit": cfg["search_limit"],
            "ttl_ms": cfg["ttl_ms"], "warmup_cycle": "inputs/warmup.json"}
    write_json(f"{run_dir}/inputs/plan.json", plan)
    return plan, {"states": states, "deleted": deleted, "rows": expected_rows, "preds": preds}


MODULES = {"CluesoOps": "clueso", "analytics.CluesoOps": "clueso", "Relational": "relational",
           "EventOps": "events", "Dedup": "dedup", "Similarity": "similarity",
           "TextOps": "text", "Multimodal": "multimodal"}


def query_modules(entry_scala):
    """Query name -> implementing module, read from SparkEntry.queries."""
    body = open(entry_scala).read().split("def oracleSql")[0]
    out = {}
    for name, obj in re.findall(r'"(\w+)"\s*->\s*\(([\w.]+)\.\w+\(_, _\)\)', body):
        out[name] = MODULES[obj]
    return out


def gen_analytics(run_dir, seed, cores, sf_dir, stride, entry_scala):
    """Every `stride`-th query of each module, in name order (a fixed plan:
    the seed does not change it)."""
    mods = query_modules(entry_scala)
    chosen = []
    for m in sorted(set(mods.values())):
        names = sorted(n for n, x in mods.items() if x == m)
        chosen += names[::stride]
    os.makedirs(f"{run_dir}/inputs")
    plan = {"cores": cores, "sf_dir": sf_dir, "queries": sorted(chosen),
            "modules": {n: mods[n] for n in chosen}}
    write_json(f"{run_dir}/inputs/plan.json", plan)
    return plan, plan["modules"]


def write_json(path, obj):
    with open(path, "w") as fh:
        json.dump(obj, fh)
