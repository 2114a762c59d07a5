"""Seeded input generator for the perfbench workloads.

Everything a run feeds to graft comes from here: parquet tables under
`<out>/` plus `<out>/requests.json`, and the warm-up's set of the same
shape under `<out>/warmup/`. The same seed gives byte-identical files;
the program sees only these files, never the seed.
"""
import json
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
EXTS = ["parquet", "json", "csv", "txt", "log", "png", "jpg", "gz", "bin", "html"]
DAYS = 30
DAYS_PER_CYCLE = 10
REWRITES_PER_CYCLE = 2  # earlier partition files rewritten before a cycle
DELETES_PER_CYCLE = 1   # and deleted
N_EVENTS = 20_000
TABLE_FILES = 4  # events and the manifest listing are stored as this many files
N_DOCS = 200
N_VECS = 200
DIM = 64
VOCAB = ("key agg row scan slow fast table value part hash the a data window "
         "line sort merge batch spark query join small big group filter order "
         "column customer stream vector lake file glob index shard token").split()


# the manifest derivation of graft.sources.Manifest, in DuckDB SQL
MANIFEST_SQL = """SELECT event_id,
  'data/year=' || CAST(year(ts) AS VARCHAR) ||
  '/month=' || lpad(CAST(month(ts) AS VARCHAR), 2, '0') ||
  '/day=' || lpad(CAST(day(ts) AS VARCHAR), 2, '0') ||
  '/event_type=' || event_type ||
  '/part-' || CAST(event_id AS VARCHAR) || '.' ||
  (['parquet','json','csv','txt','log','png','jpg','gz','bin','html'])[CAST(event_id % 10 + 1 AS INT)] AS key,
  1024 + ((event_id % 4194304) * 2654435761) % 4194304 AS size,
  CAST(((event_id % 2147483647) * 1103515245 + 12345) % 2147483647 AS VARCHAR) AS etag,
  (epoch_us(ts) // 1000000) * 1000000 AS last_modified_us
FROM events"""

T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z


def _write(table, path, parts=1):
    """One parquet file, or a directory of `parts` files (a table Spark
    splits into one scan task per file)."""
    if parts == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet",
                       compression="snappy")


def events(rng, n=None):
    n = n or N_EVENTS
    ts = np.sort(rng.integers(0, DAYS * 86_400_000_000, size=n)) + T0_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1000, size=n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def documents(rng, n=None):
    """Text corpus in a seeded row order. Every fifth document after the
    tenth is a near-duplicate: a seeded earlier document with two words
    changed."""
    n = n or N_DOCS
    texts = []
    for i in range(n):
        if i > 10 and i % 5 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=20 + i % 60)]
        texts.append(" ".join(words))
    langs = ["en", "en", "en", "de", "es", "fr", "zh"]
    order = rng.permutation(n)
    return pa.table({
        "doc_id": pa.array(order.astype(np.int64)),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array([langs[i % len(langs)] for i in order]),
        "source": pa.array([f"src{i % 20}" for i in order]),
        "n_chars": pa.array([len(texts[i]) for i in order], type=pa.int64()),
    })


def embeddings(rng, n=None, k=10):
    """Unit vectors around k seeded centres, n/k per centre, in a seeded
    row order."""
    n = n or N_VECS
    centres = rng.normal(size=(k, DIM))
    labels = np.arange(n) % k
    v = centres[labels] + rng.normal(scale=0.8, size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    order = rng.permutation(n)
    return pa.table({
        "vec_id": pa.array(order.astype(np.int64)),
        "embedding": pa.array([row.astype(np.float32) for row in v[order]],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels[order].astype(np.int32)),
    })


def _glob(r, star_run, i):
    """The i-th glob of its class over the manifest layout
    data/year=2024/month=01/day=DD/event_type=T/part-ID.EXT; the class
    and template are fixed by i, the seed picks the parameters."""
    t, e = r.choice(EVENT_TYPES), r.choice(EXTS)
    d1 = r.randint(1, DAYS)
    if star_run:
        c = "".join(r.sample("aeiclrstvw", 3))
        templates = [
            f"**/*{t[1:4]}*/**/*.{e}",
            f"**{c[0]}**{c[1]}**{c[2]}",
            f"data/**/*{r.randint(0, 9)}*/**/part-*{r.randint(0, 9)}*.{e}",
            f"**/*{t[:2]}*/*{r.randint(10, 99)}*",
        ]
    else:
        templates = [
            f"data/year=2024/month=01/day={d1:02d}/**/*.{e}",
            f"data/**/event_type={t}/*.{e}",
            f"**/day={r.randint(1, 2)}?/**/part-*{r.randint(0, 9)}.{e}",
            f"**/event_type=@({t}|view)/*.{e}",
            f"data/year=2024/month=01/day=0[1-{r.randint(2, 9)}]/event_type=*/part-*.{{{e},json}}",
            f"data/year=2024/month=01/day={{{d1:02d},{r.randint(1, DAYS):02d}}}/event_type={t}/*",
        ]
    return templates[i % len(templates)]


def scan_requests(r):
    """Seeded lake_scan request list. The order of request kinds and
    which glob lists hold star-runs or repeat are fixed, so seeds differ
    only in parameters; that keeps pass times comparable across seeds."""
    reqs, lists = [], []
    keys = iter(CONTRACT_KEYS)
    n_star = n_plain = 0
    for kind in SCAN_SCHEDULE:
        nth = sum(q["kind"] == kind for q in reqs)  # earlier requests of this kind
        if kind == "key":
            reqs.append({"kind": kind, "key": next(keys)})
        elif kind in ("glob", "not"):
            plan = GLOB_SLOTS[len(lists)]
            if plan.startswith("repeat"):
                pats, star = lists[int(plan.split(":")[1])]
            else:
                star = plan == "star"
                if star:
                    pats = [_glob(r, True, n_star)]
                    n_star += 1
                else:
                    pats = [_glob(r, False, n_plain)]
                    n_plain += 1
                if len(lists) in TWO_GLOB_SLOTS:
                    pats.append(_glob(r, False, n_plain))
                    n_plain += 1
                if len(lists) in NEGATED_SLOTS:
                    pats.append("!**/*." + r.choice(EXTS))
            lists.append((pats, star))
            reqs.append({"kind": kind, "patterns": list(pats), "star_run": star,
                         "repeat": plan.startswith("repeat")})
        elif kind == "capture":
            t = r.choice(EVENT_TYPES + ["*"])
            reqs.append({"kind": kind, "pattern": [
                f"data/year=:year/month=:month/day=:day/event_type={t}/part-:id.{r.choice(EXTS)}",
                f"data/year=2024/month=:month/day=*/event_type=:type/part-*.{r.choice(EXTS)}",
            ][nth % 2]})
        elif kind == "hive":
            lo = r.randint(1, 20)
            reqs.append({"kind": kind, "day_min": lo, "day_max": lo + r.randint(0, 10),
                         "types": sorted(r.sample(EVENT_TYPES, r.randint(1, 4)))})
        elif kind == "time":
            d = r.randint(1, DAYS - 3)
            reqs.append({"kind": kind, "granularity": ["hourly", "daily"][nth % 2],
                         "start": f"2024-01-{d:02d} 00:00:00",
                         "end": f"2024-01-{d + r.randint(1, 3):02d} 00:00:00"})
        else:
            reqs.append({"kind": kind, "mode": ["quick", "full"][nth % 2],
                         "drop_prev": r.randint(5, 17), "mutate": r.randint(3, 11),
                         "drop_cur": r.randint(7, 19)})
    for i, q in enumerate(reqs):
        q["id"] = i
    return reqs


# Six of the 19 lake contract keys, one per family; all 19 take about
# 30 s in a fresh JVM, more than one run may spend.
CONTRACT_KEYS = ["glob_match", "hive_prune", "time_paths", "change_detect_quick",
                 "content_type", "retention_sweep"]

# One lake_scan pass: 16 API requests and the contract keys, interleaved.
SCAN_SCHEDULE = ["glob", "key", "hive", "glob", "change", "key", "not", "capture",
                 "glob", "key", "time", "glob", "change", "key", "not", "hive",
                 "glob", "key", "capture", "glob", "time", "key"]
# The glob and negated-glob requests in order: a fresh plain list, a fresh
# list holding a star-run glob, or a repeat of an earlier request's list
# (so 3 of 8 hold a star-run and 2 of 8 repeat). Slots 0 and 2 list two
# globs and slot 4 adds a `!` negation; slots 4 and 7 are single globs
# with a literal prefix, which GlobPrefixPushdown turns into a scan filter.
GLOB_SLOTS = ["plain", "star", "plain", "repeat:1", "plain", "star", "repeat:2", "plain"]
TWO_GLOB_SLOTS = {0, 2}
NEGATED_SLOTS = {4}


# Two of the ten iterative audit keys. A fresh JVM runs all ten in
# about 90 s at 4 cores (embed_kmeans_converge alone 14 s cold,
# knn_ivf_pq_refresh 16 s warm), more than one run may spend, and a key
# must run once untimed before its timed run is steady. Kept: the KLL
# ladder (a checkpoint per rung) and a containment sweep with its exact
# side.
AUDIT_KEYS = ["sketch_kll", "dedup_containment_recall"]


def ingest_plan(r, ev):
    """Ingest cycles over the event days in seeded order, DAYS_PER_CYCLE
    days each: which earlier partition files to rewrite and which to
    delete, and the counts a correct change classification must find.
    A day's append writes one file per event type present that day."""
    day = ev.column("ts").cast(pa.int64()).to_numpy() // 86_400_000_000 - T0_US // 86_400_000_000 + 1
    present = {}
    for d, t in zip(day.tolist(), ev.column("event_type").to_pylist()):
        present.setdefault(d, set()).add(t)
    rows = np.bincount(day, minlength=DAYS + 1)
    order = list(range(1, DAYS + 1))
    r.shuffle(order)
    cycles, written = [], []
    for i in range(0, DAYS, DAYS_PER_CYCLE):
        days = order[i:i + DAYS_PER_CYCLE]
        pool = list(written)
        r.shuffle(pool)
        n_mod = min(len(pool), REWRITES_PER_CYCLE)
        n_del = min(len(pool) - n_mod, DELETES_PER_CYCLE)
        dropped = pool[n_mod:n_mod + n_del]
        cycles.append({"id": len(cycles), "days": days, "rows": int(sum(rows[d] for d in days)),
                       "rewrite": sorted(pool[:n_mod]), "delete": sorted(dropped),
                       "expect_added": sum(len(present.get(d, ())) for d in days)})
        written = [p for p in written if p not in dropped]
        written += [[d, t] for d in days for t in sorted(present.get(d, ()))]
    return cycles


def _props(workload, reqs, ev):
    if workload == "lake_scan":
        gl = [q for q in reqs if q["kind"] in ("glob", "not")]
        rep = sum(q["repeat"] for q in gl)
        star = sum(q["star_run"] for q in gl)
        return {"requests": len(reqs), "glob_requests": len(gl),
                "star_run_glob_share": round(star / max(1, len(gl)), 3),
                "repeated_glob_share": round(rep / max(1, len(gl)), 3),
                "manifest_keys": ev.num_rows}
    if workload == "lake_ingest":
        touched = sum(len(c["rewrite"]) + len(c["delete"]) for c in reqs)
        return {"cycles": len(reqs), "rows_per_cycle": ev.num_rows / len(reqs),
                "partitions_appended_per_cycle": sum(c["expect_added"] for c in reqs) / len(reqs),
                "earlier_partitions_touched_per_cycle": touched / len(reqs)}
    return {"keys": len(reqs), "documents": N_DOCS, "embeddings": N_VECS}


# The warm-up runs on inputs of their own, made from this offset of the
# seed: same shape, other data and other request parameters, so the timed
# pass meets a warm JVM but neither data nor requests it has seen.
WARMUP_SEED_OFFSET = 1000


def _glob_lists(reqs):
    return {tuple(q["patterns"]) for q in reqs if q.get("kind") in ("glob", "not")}


def _tables(workload, seed, out):
    """Write the tables of `workload` for `seed` under `out`; return the
    events table and a seeded stream for the request list."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    ev = events(rng)
    _write(ev, f"{out}/events.parquet", TABLE_FILES)
    _write(documents(rng), f"{out}/documents.parquet")
    _write(embeddings(rng), f"{out}/embeddings.parquet")
    if workload == "lake_scan":
        con = duckdb.connect()
        con.register("events", ev)
        _write(con.sql(MANIFEST_SQL).arrow(), f"{out}/manifest.parquet", TABLE_FILES)
        con.close()
    return ev, random.Random(seed)


def _requests(workload, r, ev):
    if workload == "lake_scan":
        return scan_requests(r)
    if workload == "llm_audit":
        return [{"id": i, "kind": "key", "key": k} for i, k in enumerate(AUDIT_KEYS)]
    return ingest_plan(r, ev)


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`, and the
    warm-up's under `out/warmup`; return the measured input properties.

    The warm-up is a shorter list of the same shape as the timed one: the
    first 6 `lake_scan` requests (none with a glob list of the timed
    pass), the first `lake_ingest` cycle, both audit keys."""
    ev, r = _tables(workload, seed, out)
    reqs = _requests(workload, r, ev)
    wev, wr = _tables(workload, seed + WARMUP_SEED_OFFSET, f"{out}/warmup")
    if workload == "lake_scan":
        warmup = scan_requests(wr)[:6]
        while _glob_lists(warmup) & _glob_lists(reqs):
            warmup = scan_requests(wr)[:6]
    elif workload == "llm_audit":
        warmup = reqs
    else:
        warmup = ingest_plan(wr, wev)[:1]
    props = _props(workload, reqs, ev)
    with open(f"{out}/requests.json", "w") as f:
        json.dump({"workload": workload, "requests": reqs, "properties": props}, f)
    with open(f"{out}/warmup/requests.json", "w") as f:
        json.dump({"workload": workload, "requests": warmup}, f)
    return props
