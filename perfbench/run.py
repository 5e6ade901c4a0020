#!/usr/bin/env python3
"""The repo's benchmark. One command per workload:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

run from the root of a checkout. It builds the program from source (first
run only), makes the inputs, starts one JVM (perfbench/src) that sets up,
runs the untimed correctness pass and then the timed closed loop, checks
every output and prints a JSON record line, then the result line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the JVM attaches the Spark listeners and the metrics are
the per-layer ones. Exits 1 on a wrong or failed operation, and 2 when
the program cannot be built (for example, when its sources are absent).
Workloads, query sets and settings are in perfbench/workloads.json; see
perfbench/NOTES.md."""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import inputs  # noqa: E402
import reference  # noqa: E402

DEADLINE_S = 160.0  # a run after the first must end within 180 s, checks included
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def load(name):
    with open(os.path.join(BENCH, name)) as f:
        return json.load(f)


def stop_words():
    with open(os.path.join(BENCH, "stop_words.txt")) as f:
        return [w.strip().lower() for w in f if w.strip()]


def tables_dir():
    """The fixed sf0.1-shaped tables, made once per build dir."""
    d = os.path.join(build.build_dir(), "data", "sf0.1")
    with open(inputs.__file__, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    stamp_file = d + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        inputs.write_tables(d)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return d


def check_headlines(csv, work, passes):
    """Names of the timed calls, one per call, that failed or whose output
    differs from the reference recomputation. Timed call n (counting from
    1, in run order) wrote out/<name>-<n>."""
    stock, words = reference.expected(csv, stop_words())
    want = {k: "".join(x + "\n" for x in v)
            for k, v in (("stockcount", stock), ("wordcount", words))}
    calls = [(n, s) for p in passes for n, s in p["ops"].items()]
    bad = []
    for i, (name, sec) in enumerate(calls, 1):
        d = os.path.join(work, "out", f"{name}-{i}")
        got = ""
        for p in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(p) as f:
                got += f.read()
        if sec < 0 or not os.path.exists(os.path.join(d, "_SUCCESS")) or got != want[name]:
            bad.append(name)
    return bad


def fingerprint(con, sql):
    """Order-insensitive fingerprint of a result: columns sorted by name,
    every value as pandas prints it, rows sorted, then SHA-256."""
    df = con.execute(sql).df()
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted("\x00".join(r) for r in df.astype(str).itertuples(index=False))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"columns": list(df.columns), "rows": len(rows), "sha256": h}


def check_registry(work, ops):
    """Names of the operations whose checked output differs from the
    DuckDB oracle's answer, as recorded in oracle_fingerprints.json."""
    import duckdb
    want = load("oracle_fingerprints.json")["queries"]
    con = duckdb.connect()
    bad = []
    for name in ops:
        files = os.path.join(work, "check", name, "*.parquet")
        if name not in want or not glob.glob(files):
            bad.append(name)
            continue
        got = fingerprint(con, f"SELECT * FROM read_parquet('{files}')")
        if got != want[name]:
            bad.append(name)
    return bad


def tail_of_kinds(medians):
    """Nearest-rank 90th percentile of the operation kinds' median
    latencies: the slow kinds' typical latency. A run has too few calls
    of each kind for a per-call tail; see NOTES.md."""
    xs = sorted(medians)
    return xs[max(1, -(-9 * len(xs) // 10)) - 1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="also write the full JSON record here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cfg = load("workloads.json")
    if args.workload not in cfg["workloads"]:
        sys.exit(f"perfbench: unknown workload {args.workload}")
    wl = cfg["workloads"][args.workload]
    try:
        classpath = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        sys.exit(2)

    data = tables_dir()
    started = time.monotonic()  # the build and the tables are made once
    work = os.path.join(build.build_dir(), "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    csv = os.path.join(work, "headlines.csv")
    if args.workload == "headlines":
        lines, size = inputs.write_headlines(csv, args.seed, stop_words())
        input_rec = {"headlines_lines": lines, "headlines_bytes": size}
    else:
        input_rec = table_info(data)
    conf_file = os.path.join(work, "conf.json")
    with open(conf_file, "w") as f:
        json.dump({k: v.format(workload=args.workload, nproc=cpus, work=work)
                   for k, v in cfg["spark_conf"].items()}, f)

    out = os.path.join(work, "record.json")
    jvm = ([build.java(), "-XX:-UsePerfData", "-Xmx4g", "-Xss16m",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", classpath, "perfbench.Main",
              "workload", args.workload, "conf", conf_file, "data", data,
              "csv", csv, "work", work, "out", out, "seconds", str(args.seconds),
              "seed", str(args.seed), "ops", ",".join(wl["ops"]),
              "warm", ",".join(wl["warm"]), "warm-passes", str(wl["warm_passes"]),
              "trace", str(args.trace)])
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as lf:
        try:
            rc = subprocess.run(jvm, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                timeout=max(10.0, DEADLINE_S - (time.monotonic() - started))
                                ).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: JVM run failed ({rc})", file=sys.stderr)
        sys.exit(1)
    with open(out) as f:
        rec = json.load(f)

    passes = rec["passes"]
    attempted = sum(len(p["ops"]) for p in passes)
    failed_ops = list(rec["failed"])
    if args.workload == "headlines":
        bad = check_headlines(csv, work, passes)
        failed = len(bad)
    else:
        bad = check_registry(work, wl["ops"])
        # every timed run of an operation with a wrong answer counts
        failed = sum(1 for p in passes for n, s in p["ops"].items()
                     if s < 0 or n in bad)
    failed_ops = sorted(set(failed_ops) | set(bad))
    correct = not failed_ops

    per_op, per_op_cpu = {}, {}
    for p in passes:
        for name, s in p["ops"].items():
            if s >= 0:
                per_op.setdefault(name, []).append(s)
                per_op_cpu.setdefault(name, []).append(p["ops_cpu_s"][name])
    op_medians = [statistics.median(v) for v in per_op.values()] or [0.0]
    pass_s = statistics.median(p["wall_s"] for p in passes)
    values = {
        "setup_s": statistics.median(rec["setup_cpu_s"]),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
    }
    wall = {
        "setup_s": statistics.median(rec["setup_s"]),
        "pass_s": pass_s,
        "op_p50_s": statistics.median(op_medians),
        "op_tail_s": tail_of_kinds(op_medians),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "nproc": cpus,
        "jvm": rec["jvm"], "spark": rec["spark"], "git_commit": git_commit(),
        "input": input_rec, "operations": wl["ops"],
        "passes": len(passes), "wall": wall,
        "loop_cpu_steal_frac": rec["loop_cpu_steal_frac"],
        "pass_walls_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "pass_jit_s": [p["jit_s"] for p in passes],
        "op_samples": {k: len(v) for k, v in sorted(per_op.items())},
        "op_tail": {"percentile": 90, "of": "median latency of each operation kind",
                    "kinds": len(per_op)},
        "pass_samples_s": [p["ops"] for p in passes],
        "pass_cpu_samples_s": [p["ops_cpu_s"] for p in passes],
        "failed_frac": failed / attempted if attempted else 1.0,
        "failed_operations": failed_ops, "errors": rec["errors"],
        "setup_s_each": rec["setup_s"], "setup_cpu_s_each": rec["setup_cpu_s"],
        "cold_setup_s": rec["cold_setup_s"],
        "live_heap_mb": rec["live_heap_mb"],
        "jvm_compile_setup_s": rec["jvm_compile_setup_s"],
        "cold_first_call_s": rec["cold_first_call_s"],
        "check_pass_s": rec["check_pass_s"], "warm_passes_s": rec["warm_passes_s"],
        "op_median_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
        "op_median_cpu_s": {k: statistics.median(v) for k, v in sorted(per_op_cpu.items())},
        "spark_conf": rec["spark_conf"], "jvm_options": jvm[1:jvm.index("-cp")],
    }
    if args.workload == "headlines":
        record["baseline_comparable"] = {
            "stockcount_s": statistics.median(per_op.get("stockcount", [0.0])),
            "wordcount_s": statistics.median(per_op.get("wordcount", [0.0])),
            "mapreduce_stockcount_s": 23, "mapreduce_wordcount_s": 22}
    if args.trace:
        layers = dict(rec["trace"]["layers_per_pass"])
        layers["jvm.compile_s"] = statistics.median(p["jit_s"] for p in passes)
        layers["jvm.gc_s"] = rec["jvm_gc_loop_s"] / len(passes)
        values = layers
        record["trace"] = rec["trace"]
    if args.record:
        with open(args.record, "w") as f:
            json.dump({"record": record, "values": values}, f, indent=1)
    record.pop("trace", None)
    print(json.dumps({"record": record}))

    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in bench["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if correct else 1)


def table_info(data):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(data, "*.parquet")))
    return {"table_rows": {os.path.basename(p)[:-8]: pq.ParquetFile(p).metadata.num_rows
                           for p in files},
            "tables_bytes": sum(os.path.getsize(p) for p in files)}


def git_commit():
    """The commit being measured, when the checkout is a git repository."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
