#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --seed N --out DIR

Writes every table graft's `sources.Tables.Names` lists as
`DIR/<name>.parquet`, the raw log files the parser microbenchmarks read
(`DIR/raw/`), the serving refresh batches (`DIR/batches/<k>/`), and
`DIR/manifest.json` with the generator parameters, row counts and bytes.
The same seed gives byte-identical tables. Runs in its own process, off
the clock: the measured JVM only reads these files.
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Every knob that shapes the data. Recorded verbatim in manifest.json.
PARAMS = {
    "events": 20_000,           # rows in the base `events` table
    "days": 30,                 # events span 2024-01-01 .. +days
    "users": 2_000,
    "user_zipf_s": 1.1,         # Zipf exponent of per-user activity
    "error_share": 0.15,        # share of `error` events
    "out_of_order_share": 0.02, # rows whose event_id order disagrees with ts
    "props_keys": 100,          # props = {"k": 0..props_keys-1}
    "documents": 300,
    "vocab": 160,
    "doc_words": [8, 90],       # uniform word count per document
    "dup_share": 0.25,          # docs that belong to a planted near-dup cluster
    "dup_cluster_max": 24,      # largest planted cluster
    "dup_rank_exponent": 1.0,   # cluster r has max / r^a docs (heavy tail)
    "dup_edit_share": 0.04,     # word substitutions per near-duplicate
    "embeddings": 300,
    "dim": 64,
    "labels": 10,
    "vec_dup_share": 0.10,      # vectors planted as near-copies of another
    "customers": 1_500,
    "suppliers": 100,
    "parts": 2_000,
    "orders": 15_000,
    "lineitems": 60_000,
    "log_lines": 20_000,        # raw log4j daemon lines
    "jobhistory_lines": 20_000, # raw JobHistory event lines
    "malformed_share": 0.05,    # unparseable raw lines (both files)
    "batches": 16,              # serving refresh batches
    "batch_docs": 40,           # documents per refresh batch
    "batch_events": 1_000,      # events per refresh batch (one later day)
    "row_groups": 8,            # parquet row groups per table file
}

EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


def write(path, table, p):
    rg = max(1, -(-table.num_rows // p["row_groups"]))
    pq.write_table(table, path, row_group_size=rg, compression="snappy")
    return os.path.getsize(path)


def words(p):
    base = ["spark", "batch", "stream", "query", "join", "scan", "sort",
            "hash", "group", "window", "filter", "merge", "table", "row",
            "column", "vector", "key", "value", "order", "line", "part",
            "data", "agg", "fast", "slow", "big", "small", "the", "a",
            "customer"]
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "zo", "pe", "vi", "su"]
    extra = [syll[i % 10] + syll[(i // 10) % 10] + syll[(i // 100) % 10]
             for i in range(p["vocab"] - len(base))]
    return base + extra


def events_frame(rng, p, n, first_id, day0, days):
    """n events over [day0, day0+days): Zipf user activity, diurnal hour
    shape, a stated error share and out-of-order share."""
    u = rng.zipf(p["user_zipf_s"], size=4 * n)
    u = u[u <= p["users"]][:n] - 1
    while len(u) < n:  # rare: top-up from the same law
        v = rng.zipf(p["user_zipf_s"], size=n)
        u = np.concatenate([u, v[v <= p["users"]] - 1])[:n]
    hours = np.arange(24)
    w = 1.0 + 0.8 * np.sin((hours - 9) / 24.0 * 2 * np.pi)  # peak ~15:00
    hour = rng.choice(24, size=n, p=w / w.sum())
    day = rng.integers(day0, day0 + days, size=n)
    ts = (T0_US + day * DAY_US + hour * 3_600_000_000
          + rng.integers(0, 3_600_000_000, size=n))
    ts.sort()
    # out-of-order arrivals: a share of rows is delivered late, i.e. gets
    # an event_id after rows with a later ts
    late = rng.random(n) < p["out_of_order_share"]
    arrival = np.arange(n, dtype=np.float64)
    arrival[late] += rng.integers(50, 5_000, size=late.sum())
    order = np.argsort(arrival, kind="stable")
    ts = ts[order]
    other = [t for t in EVENT_TYPES if t != "error"]
    et = np.where(rng.random(n) < p["error_share"], "error",
                  np.array(other)[rng.integers(0, len(other), size=n)])
    value = np.round(rng.lognormal(3.0, 1.0, size=n), 2)
    k = rng.integers(0, p["props_keys"], size=n)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(u[order], pa.int64()),
        "event_type": pa.array(et),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props),
    })


def cluster_sizes(p, n_dup):
    """Planted near-duplicate cluster sizes: a fixed rank-size (Zipf)
    profile, size of the r-th cluster = max(2, round(max / r^a)), taken
    until n_dup documents are covered. The profile is the same for every
    seed, so seeds change the documents and their positions but not the
    amount of duplicate work."""
    sizes, r = [], 1
    while n_dup - sum(sizes) >= 2:
        size = max(2, int(round(p["dup_cluster_max"] / r ** p["dup_rank_exponent"])))
        sizes.append(min(size, n_dup - sum(sizes)))
        r += 1
    return sizes


def documents_frame(rng, p, vocab, n, first_id):
    """n documents; a dup_share of them sit in planted near-duplicate
    clusters (cluster_sizes). Returns (table, cluster sizes)."""
    lo, hi = p["doc_words"]
    texts = []
    sizes = cluster_sizes(p, int(round(n * p["dup_share"])))
    for s in sizes:
        base = rng.choice(vocab, size=int(rng.integers(max(lo, 20), hi)))
        texts.append(" ".join(base))
        for _ in range(s - 1):
            doc = base.copy()
            edits = rng.random(len(doc)) < p["dup_edit_share"]
            doc[edits] = rng.choice(vocab, size=edits.sum())
            texts.append(" ".join(doc))
    while len(texts) < n:
        texts.append(" ".join(rng.choice(vocab, size=int(rng.integers(lo, hi)))))
    texts = texts[:n]
    perm = rng.permutation(n)  # clusters are not contiguous in doc_id
    texts = [texts[i] for i in perm]
    tbl = pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, size=n).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return tbl, sizes


def embeddings_frame(rng, p):
    n, dim = p["embeddings"], p["dim"]
    cent = rng.normal(size=(p["labels"], dim))
    label = rng.integers(0, p["labels"], size=n)
    v = cent[label] + 1.2 * rng.normal(size=(n, dim))
    dup = np.nonzero(rng.random(n) < p["vec_dup_share"])[0]
    src = rng.integers(0, n, size=len(dup))
    v[dup] = v[src] + 0.01 * rng.normal(size=(len(dup), dim))
    label[dup] = label[src]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    emb = pa.array(list(v), pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(label, pa.int32()),
    })


def star_schema(rng, p):
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    nc = p["customers"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], size=nc))})
    ns = p["suppliers"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2))})
    npart = p["parts"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([" ".join(x) for x in rng.choice(
            ["large", "hot", "ring", "bolt", "blue", "steel", "small"],
            size=(npart, 2))]),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, size=npart).astype(str))),
        "p_type": pa.array(rng.choice(["LARGE", "ECONOMY", "STANDARD",
                                       "PROMO", "SMALL"], size=npart)),
        "p_size": pa.array(rng.integers(1, 51, size=npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(npart) * 0.1, 2))})
    no = p["orders"]
    day = rng.integers(0, 365 * 7, size=no)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, size=no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, no), 2)),
        "o_orderdate": pa.array((np.datetime64("1995-01-01") + day)
                                .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=no))})
    nl = p["lineitems"]
    lday = rng.integers(0, 365 * 7, size=nl)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, size=nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, size=nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, size=nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=nl)),
        "l_shipdate": pa.array((np.datetime64("1995-01-01") + lday)
                               .astype("datetime64[us]"), pa.timestamp("us"))})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def raw_logs(rng, p, out):
    """log4j daemon lines and JobHistory event lines, each with a stated
    share of malformed lines. Returns the exact malformed counts."""
    n = p["log_lines"]
    bad = rng.random(n) < p["malformed_share"]
    secs = rng.integers(0, p["days"] * 86400, size=n)
    ms = rng.integers(0, 1000, size=n)
    levels = rng.choice(["INFO", "WARN", "ERROR", "DEBUG"], size=n,
                        p=[0.7, 0.15, 0.1, 0.05])
    jobs = rng.integers(0, 500, size=n)
    lines = []
    for i in range(n):
        t = np.datetime64(T0_US // 1_000_000 + int(secs[i]), "s")
        stamp = str(t).replace("T", " ")
        if bad[i]:
            lines.append(f"{stamp} ?? truncated line {i}")
        else:
            lines.append(f"{stamp},{int(ms[i]):03d} {levels[i]} [main] "
                         f"org.apache.hadoop.mapred.JobTracker: task {i} "
                         f"of job_202401_{int(jobs[i]):04d} done")
    os.makedirs(f"{out}/raw/log4j", exist_ok=True)
    with open(f"{out}/raw/log4j/daemon.log", "w") as f:
        f.write("\n".join(lines) + "\n")
    m = p["jobhistory_lines"]
    jbad = rng.random(m) < p["malformed_share"]
    status = rng.choice(["SUCCESS", "FAILED", "KILLED"], size=m, p=[0.8, 0.15, 0.05])
    jl = []
    for i in range(m):
        if jbad[i]:
            jl.append(f"  garbled JOBID=job_{i} STATUS")
        else:
            jl.append(f'Job JOBID="job_202401_{i:05d}" FINISH_TIME="'
                      f'{1704067200 + i}" JOB_STATUS="{status[i]}" '
                      f'TOTAL_MAPS="{i % 97}" TOTAL_REDUCES="{i % 13}"')
    os.makedirs(f"{out}/raw/jobhistory", exist_ok=True)
    with open(f"{out}/raw/jobhistory/history.log", "w") as f:
        f.write("\n".join(jl) + "\n")
    return int(bad.sum()), int(jbad.sum())


def digest(path):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            if name.startswith("manifest.json"):
                continue
            with open(os.path.join(root, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    p = dict(PARAMS)
    rng = np.random.default_rng(a.seed)
    os.makedirs(a.out, exist_ok=True)
    tables = {}
    vocab = np.array(words(p))
    star = star_schema(rng, p)
    tables.update(star)
    tables["events"] = events_frame(rng, p, p["events"], 0, 0, p["days"])
    docs, sizes = documents_frame(rng, p, vocab, p["documents"], 0)
    tables["documents"] = docs
    tables["embeddings"] = embeddings_frame(rng, p)
    manifest = {"seed": a.seed, "params": p, "tables": {}}
    for name, t in tables.items():
        b = write(f"{a.out}/{name}.parquet", t, p)
        manifest["tables"][name] = {"rows": t.num_rows, "bytes": b}
    manifest["dup_clusters"] = {"count": len(sizes), "docs": int(sum(sizes)),
                                "max_size": int(max(sizes))}
    # serving refresh batches: doc_ids above the base max, one later day
    # of events per batch (event_ids above everything before them)
    next_doc, next_ev = p["documents"], p["events"]
    batches = []
    for k in range(p["batches"]):
        d = f"{a.out}/batches/{k:02d}"
        os.makedirs(d, exist_ok=True)
        bd, _ = documents_frame(rng, p, vocab, p["batch_docs"], next_doc)
        be = events_frame(rng, p, p["batch_events"], next_ev,
                          p["days"] + k, 1)
        batches.append({
            "documents": write(f"{d}/documents.parquet", bd, p),
            "events": write(f"{d}/events.parquet", be, p)})
        next_doc += p["batch_docs"]
        next_ev += p["batch_events"]
    manifest["batches"] = batches
    bad_log, bad_jh = raw_logs(rng, p, a.out)
    manifest["raw"] = {"log4j_lines": p["log_lines"], "log4j_malformed": bad_log,
                       "jobhistory_lines": p["jobhistory_lines"],
                       "jobhistory_malformed": bad_jh}
    manifest["digest"] = digest(a.out)
    tmp = f"{a.out}/manifest.json.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, f"{a.out}/manifest.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
