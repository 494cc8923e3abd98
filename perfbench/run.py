#!/usr/bin/env python3
"""Fixed-work benchmark of graft: compound build, compound serving and
corpus curation (see perfbench/README.md).

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's seeded inputs once per (seed, size), runs the workload in one
JVM with a fresh scratch directory, checks every output, prints every
end-to-end metric with its unit, and ends with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics (and the span file lands in
.bench_build/trace/). Any failed check makes the run exit non-zero.
"""
import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout keeps only what the build dir holds
import build  # noqa: E402
import gen_corpus  # noqa: E402
import gen_sdf  # noqa: E402

CORES = os.cpu_count() or 4
RUN_LIMIT_S = 170
UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms",
         "latency_tail_ms": "ms", "cid_lookup_p50_ms": "ms", "inchikey_lookup_p50_ms": "ms",
         "sql_p50_ms": "ms", "bytes_stored_per_input_byte": "ratio", "peak_rss_mb": "MB",
         "error_rate": "ratio"}


def plan(workload: str, seconds: int) -> dict:
    """The fixed work of one run. It depends on --seconds (the nominal
    length of the timed part) and nothing else: never on the clock."""
    if workload == "compound_build":
        return {"files_per_batch": CORES, "records_per_file": 200, "warm_files": 2,
                "batches": max(2, round(seconds / 1.5))}
    if workload == "compound_serve":
        return {"files": 16, "records_per_file": 300, "setup_batches": 2,
                "rounds": max(2, round(seconds / 1.5))}
    if workload == "corpus_curate":
        return {"scale": 2, "n_docs": 10000, "passes": max(1, round(seconds / 8.0))}
    raise SystemExit(f"perfbench: unknown workload {workload}")


def inputs(root: str, workload: str, seed: int, p: dict) -> str:
    """Generate (once per seed and size) and return the input directory."""
    if workload == "corpus_curate":
        key, make = f"corpus-s{seed}-x{p['scale']}", \
            lambda d: gen_corpus.generate(seed, p["scale"], d)
    else:
        n = p["warm_files"] + p["batches"] * p["files_per_batch"] \
            if workload == "compound_build" else p["files"]
        key, make = f"sdf-s{seed}-{n}x{p['records_per_file']}", \
            lambda d: gen_sdf.generate(seed, n, p["records_per_file"], d)
    d = os.path.join(root, build.BUILD_DIR, "inputs", key)
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, d)
    if workload == "corpus_curate":
        # The corpus the operators read is the one the generator described.
        import pyarrow.parquet as pq
        truth = json.load(open(os.path.join(d, "truth.json")))
        for table, n in (("documents", truth["n_docs"]), ("embeddings", truth["n_vecs"])):
            rows = pq.ParquetFile(os.path.join(d, f"{table}.parquet")).metadata.num_rows
            if rows != n:
                raise SystemExit(f"perfbench: {table} has {rows} rows, its truth says {n}")
    return d


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def filesystem(path: str) -> str:
    best = ("", "?")
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best[0]):
                best = (mnt, f"{fstype} ({dev} on {mnt})")
    return best[1]


def host_stamp(work: str) -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    fs = filesystem(work)
    return {"loadavg": load, "nproc": CORES, "work_fs": fs, "work_fs_tmpfs": fs.startswith("tmpfs"),
            "flush_policy": "none (Spark's local filesystem writes without fsync)"}


def run_jvm(root, workload, inp, run_dir, trace, seed, p, result, spans):
    cmd = build.java(root, run_dir, [
        "perfbench.Main", workload, inp, os.path.join(run_dir, "work"), str(trace), str(seed),
        str(CORES), ",".join(f"{k}={v}" for k, v in p.items() if isinstance(v, int)), result] +
        ([spans] if spans else []))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                env=build.scratch_env(run_dir))
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:  # also on SIGTERM: the JVM never outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: the {workload} JVM " +
                         ("timed out" if code is None else f"exited with {code}"))
    return " ".join(build.JVM_FLAGS) + " -XX:SharedArchiveFile=.bench_build/perfbench.jsa"


def oracle_check(root: str, corpus: str, out: str) -> dict:
    """The program's own DuckDB oracle gate (compare_one of
    scripts/check_oracle.py) over the warm-up pass's output:
    entry -> None when it matches, else why."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)

    class Verdicts(list):
        put = list.append

    verdicts = Verdicts()
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    for name, sql in sorted(oracles.items()):
        try:
            gate.compare_one(corpus, out, name, sql, verdicts)
        except Exception as e:  # a compare that cannot run is a failed check
            verdicts.put((name, "FAIL", f"compare raised {e!r}"))
    found = {name: None if status == "OK" else f"{status}: {msg}" for name, status, msg in verdicts}
    return {name: found.get(name, "no verdict") for name in oracles}


def stop(signum, _frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    p = plan(a.workload, a.seconds)
    build.build(root)
    inp = inputs(root, a.workload, a.seed, p)

    run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_dir = os.path.join(root, build.BUILD_DIR, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    spans = os.path.join(trace_dir, f"{a.workload}-s{a.seed}.spans.jsonl") if a.trace else None
    try:
        total0, steal0 = cpu_times()
        stamp = host_stamp(run_dir)
        t0 = time.time()
        result_path = os.path.join(run_dir, "result.json")
        stamp["jvm_flags"] = run_jvm(root, a.workload, inp, run_dir, a.trace, a.seed, p,
                                     result_path, spans)
        res = json.load(open(result_path))
        oracle_failures = {}
        if a.workload == "corpus_curate":
            t1 = time.time()
            verdicts = oracle_check(root, inp, res["extra"]["oracle_dir"])
            stamp["oracle_check_s"] = time.time() - t1
            oracle_failures = {k: v for k, v in verdicts.items() if v is not None}
        total1, steal1 = cpu_times()
        stamp["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        stamp["wall_s"] = time.time() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # An entry whose warm-up output differs from its oracle fails in every
    # timed pass too: each of those ops was checked against a wrong hash.
    failed = res["failed"] + sum(1 for o in res["ops"] if o["kind"] in oracle_failures and o["ok"])
    e2e = dict(res["e2e"], error_rate=failed / max(1, res["attempted"]))
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} plan={p}")
    for k, v in stamp.items():
        print(f"  host {k}: {v}")
    for k, v in e2e.items():
        print(f"  {k:30s} {v:14.4f} {UNITS.get(k, '')}")
    ex = res["extra"]
    print(f"  latency_tail_ms is p{ex['latency_tail_percentile']:.1f} of "
          f"{ex['latency_tail_samples']} samples")
    kinds = {}
    for o in res["ops"]:
        if o["ok"]:
            kinds.setdefault(o["kind"], []).append(o["ms"])
    timed_ms = sum(sum(v) for v in kinds.values())
    for k, v in kinds.items():
        print(f"  op {k:28s} p50 {statistics.median(v):10.1f} ms  n={len(v):3d}  "
              f"{sum(v) / timed_ms * 100:5.1f}% of timed time")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    for k, v in oracle_failures.items():
        print(f"  FAILED oracle {k}: {v}")

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        missing = [n for n in names if n not in res["layers"]]
        if missing:
            raise SystemExit(f"perfbench: per-layer metrics not produced: {missing}")
        for n in names:
            print(f"  layer {n:44s} {res['layers'][n]:16.4f}")
        base = os.path.join(root, build.BUILD_DIR, "results", f"{a.workload}-s{a.seed}.json")
        if os.path.exists(base):
            untraced = json.load(open(base))
            for k in ("setup_s", "latency_p50_ms", "throughput_per_s"):
                print(f"  tracing overhead {k}: traced {e2e[k]:.4f} vs untraced "
                      f"{untraced[k]:.4f} ({(e2e[k] / untraced[k] - 1) * 100:+.1f}%)")
        else:
            print("  tracing overhead vs an untraced run: no untraced run of this seed yet")
        print(f"  tracing overhead (span bookkeeping share of timed ops): "
              f"{res['layers']['trace.overhead_share'] * 100:.2f}%  spans: {spans}")
        metrics = {n: {"value": res["layers"][n], "unit": m["unit"]}
                   for n, m in zip(names, spec["per_layer"])}
    else:
        os.makedirs(os.path.join(root, build.BUILD_DIR, "results"), exist_ok=True)
        with open(os.path.join(root, build.BUILD_DIR, "results",
                               f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump(e2e, f)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = failed == 0 and not oracle_failures
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
