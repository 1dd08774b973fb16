#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload curation|serving|logs --seed N \
        [--seconds N] [--trace 0|1]

Run from the repository root. It builds graft and the harness
(`build.py`), generates the seed's inputs in a separate process
(`gen.py`), runs the measured JVM (`perfbench.Main`) on them, replays
the workload's oracle-backed queries against DuckDB through
`graft.Verify` and `scripts/check.py`, and prints a readable report
followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones (see README.md). Everything it writes stays under
`.bench_build/` in the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 170  # every run must end within 180 s
JVM_MEM = "2g"
JIT = ["-XX:Tier3InvocationThreshold=100", "-XX:Tier4InvocationThreshold=1000",
       "-XX:Tier4CompileThreshold=1500", "-XX:Tier4BackEdgeThreshold=10000"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("latency_p50_s", "s"),
              ("latency_p90_s", "s"), ("ops_per_s", "1/s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("sources.scan_s", "s"), ("sources.parse_rows_per_s", "1/s"),
    ("sources.parse_reject_ratio", "ratio"), ("sources.jobhistory_rows_per_s", "1/s"),
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("operators.construct_share", "ratio"), ("catalyst.plan_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.driver_gap_s", "s"),
    ("scheduler.task_overhead_s", "s"), ("scheduler.core_busy_ratio", "ratio"),
    ("tasks.run_s", "s"), ("tasks.cpu_s", "s"), ("tasks.gc_s", "s"),
    ("tasks.input_bytes", "B"), ("tasks.spill_bytes", "B"),
    ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"),
    ("shuffle.records", "count"),
    ("plans.minhash_sig_ns_per_row", "ns"), ("plans.simhash_sig_ns_per_row", "ns"),
    ("plans.cosine_ns_per_pair", "ns"), ("plans.minhash_union_ns_per_row", "ns"),
    ("plans.jobhistory_attrs_ns_per_row", "ns"),
    ("materialize.build_s", "s"), ("materialize.append_s", "s"),
    ("materialize.compact_s", "s"), ("materialize.bytes_written", "B"),
    ("materialize.write_amp", "ratio"), ("materialize.chain_len", "count"),
    ("materialize.refresh_p50_s", "s"), ("storage.peak_mb", "MB"),
    ("trace.overhead_ratio", "ratio")]
WORKLOADS = ("curation", "serving", "logs")


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def file_hash(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def ensure_data(root, seed):
    """The seed's generated inputs, keyed on the generator's source, so
    a changed generator never reuses stale tables."""
    data = os.path.join(root, ".bench_build", "data",
                        f"seed-{seed}-{file_hash(os.path.join(HERE, 'gen.py'))}")
    if not os.path.exists(os.path.join(data, "manifest.json")):
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        "--seed", str(seed), "--out", data], check=True)
    return data


def serving_corpus(data, corpus):
    """A private, appendable copy of the seed's tables: `documents` and
    `events` become directories of part files."""
    os.makedirs(corpus)
    for name in os.listdir(data):
        src = os.path.join(data, name)
        if name in ("documents.parquet", "events.parquet"):
            os.makedirs(os.path.join(corpus, name))
            shutil.copyfile(src, os.path.join(corpus, name, "part-00000.parquet"))
        elif name.endswith(".parquet") or name == "manifest.json":
            shutil.copyfile(src, os.path.join(corpus, name))
        elif name == "raw":
            shutil.copytree(src, os.path.join(corpus, name))


def snapshot(corpus, out):
    """Single-file copies of every table, the layout scripts/check.py
    reads; directory tables are concatenated."""
    import pyarrow.parquet as pq
    os.makedirs(out)
    for name in os.listdir(corpus):
        src = os.path.join(corpus, name)
        if not name.endswith(".parquet"):
            continue
        if os.path.isdir(src):
            pq.write_table(pq.read_table(src), os.path.join(out, name))
        else:
            shutil.copyfile(src, os.path.join(out, name))


def check_oracle(root, tables_dir, verify_out, subset):
    """Runs scripts/check.py over the replayed subset; returns (checked,
    [failure lines]). A query the checker did not report on is a
    failure too."""
    r = subprocess.run([sys.executable, os.path.join(root, "scripts", "check.py"),
                        tables_dir, verify_out],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.splitlines()
    seen = {ln.split()[1].rstrip(":") for ln in lines
            if ln.startswith(("PASS ", "FAIL ", "WARN "))}
    fails = [ln for ln in lines if ln.startswith("FAIL ")]
    fails += [f"{q}: not checked" for q in subset if q not in seen]
    return len(subset), fails


def run_jvm(cmd, logf, deadline):
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("measured JVM exceeded the run deadline")


def main(argv=None):
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args(argv)
    root = os.getcwd()
    deadline = t_start + DEADLINE_S

    classes, jars = build.build(root)
    data = ensure_data(root, a.seed)
    bb = os.path.join(root, ".bench_build")
    work = os.path.join(bb, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.workload == "serving":
        tables = os.path.join(work, "corpus")
        serving_corpus(data, tables)
    else:
        tables = data

    # oracle replay: once per (workload, seed, build, data, checker);
    # the serving corpus grows during the run, so serving always replays
    digest = json.load(open(os.path.join(data, "manifest.json")))["digest"]
    cache = os.path.join(bb, "oracle", f"{a.workload}-{a.seed}-"
                         f"{os.path.basename(classes)}-{digest}-"
                         f"{file_hash(os.path.join(root, 'scripts', 'check.py'))}.json")
    cached = None
    if a.workload != "serving" and os.path.exists(cache):
        cached = json.load(open(cache))
    verify_out = os.path.join(work, "verify")
    result_file = os.path.join(work, "result.json")
    cores = os.cpu_count()
    cmd = (["java", f"-Xmx{JVM_MEM}"] + JIT + [
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "perfbench.Main", "--workload", a.workload, "--data", tables,
              "--work", work, "--out", result_file, "--seconds", str(a.seconds),
              "--seed", str(a.seed), "--trace", str(a.trace), "--cores", str(cores),
              "--batches", os.path.join(data, "batches")]
           + ([] if cached else ["--oracle-out", verify_out]))
    log(f"inputs ready at {time.time() - t_start:.1f}s")
    rc = run_jvm(cmd, os.path.join(work, "jvm.log"), deadline)
    log(f"measured JVM done at {time.time() - t_start:.1f}s")
    if rc != 0 or not os.path.exists(result_file):
        log(f"measured JVM failed (exit {rc}); log: {work}/jvm.log")
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-3000:])
        return 1
    res = json.load(open(result_file))

    if cached is None:
        if a.workload == "serving":
            snap = os.path.join(work, "snapshot")
            snapshot(tables, snap)
            checked, fails = check_oracle(root, snap, verify_out, res["oracle_subset"])
        else:
            checked, fails = check_oracle(root, tables, verify_out, res["oracle_subset"])
        cached = {"checked": checked, "failures": fails}
        if a.workload != "serving":
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            json.dump(cached, open(cache, "w"))

    log(f"oracle check done at {time.time() - t_start:.1f}s")
    e2e, attempted, failed_ops = stats.end_to_end(res)
    failures = [f"{o['query']} (pass {o['pass']}): "
                + (o["err"] or "fingerprint differs from an earlier repetition")
                for o in failed_ops]
    failures += [f"oracle: {f}" for f in cached["failures"]]
    attempted += cached["checked"]
    if a.trace:
        failures += [f"parser check: {e}" for e in res["micro_errors"]]
        attempted += 2
    failed = len(failures)

    # ---- report
    last = os.path.join(bb, "last")
    os.makedirs(last, exist_ok=True)
    stem = os.path.join(last, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.copyfile(result_file, stem + ".result.json")
    print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} "
          f"cores={res['cores']} passes={res['passes']} "
          f"spark={res['spark_version']}")
    n_reads = sum(1 for o in res["ops"] if o["setup"] == 0 and o["kind"] == "read")
    for name, unit in END_TO_END:
        note = f"  (over {n_reads} reads)" if name.startswith("latency") else ""
        print(f"  {name:<34} {e2e[name]:.6g} {unit}{note}")
    if "refresh_p50_s" in e2e:
        print(f"  {'refresh_p50_s':<34} {e2e['refresh_p50_s']:.6g} s  "
              f"({res['refreshes']} refreshes, {res['compactions']} compactions; "
              f"oracle replay read a chain of {res['replay_chain']})")
    print(f"  {'fail_ratio':<34} {failed / attempted:.6g} ratio  "
          f"({failed} of {attempted}, oracle-checked {cached['checked']})")
    for f in failures[:20]:
        print(f"  FAILED {f}")
    layer = stats.per_layer(res) if a.trace else None
    if a.trace:
        for name, unit in PER_LAYER:
            print(f"  {name:<34} {layer[name]:.6g} {unit}")
        for key in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
            lo, hi = stats.count_spread(res, key)
            print(f"  per-pass {key} over traced passes: min {lo:.0f} max {hi:.0f}")
        spans = [json.loads(ln) for ln in open(result_file + ".spans.jsonl")]
        shutil.copyfile(result_file + ".spans.jsonl", stem + ".spans.jsonl")
        top = sorted(stats.self_time_by_name(spans).items(), key=lambda kv: -kv[1])[:8]
        print(f"  span file {stem}.spans.jsonl; top self time: "
              + ", ".join(f"{n} {t:.2f}s" for n, t in top))
    print(f"  verdict: {'correct' if failed == 0 else 'INCORRECT'}")
    shutil.rmtree(work, ignore_errors=True)

    chosen = PER_LAYER if a.trace else END_TO_END
    values = layer if a.trace else e2e
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {n: {"value": values[n], "unit": u} for n, u in chosen}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
