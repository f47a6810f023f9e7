#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

Usage, from the repo root:
  python3 perfbench/run.py --workload <movie_pipeline|catalog_sf0.1> \
      --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark harness from source (cached in
.bench_build/), makes the workload's inputs from the seed, runs the
harness JVM on local[N] with N = the CPUs this process may use, checks
the outputs, and prints one JSON object as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Every run works in its own directory under .bench_runs/ (its
own java.io.tmpdir, so no run inherits another's artifacts), which is
deleted before exit; the traced run's spans go to .bench_out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = {
    "movie_pipeline": {"rows": 100000},
    "catalog_sf0.1": {"sf": 0.1, "prepare": "events,textops"},
}
# Seconds a run may take after the build, leaving room under a 180 s limit.
DEADLINE_S = 165
VERIFY_RESERVE_S = 25
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def dir_usage(path):
    files, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            if os.path.isfile(p) and not os.path.islink(p):
                files += 1
                size += os.path.getsize(p)
    return size, files


def run_jvm(classpath, run_dir, conf, deadline):
    # The driver heap of the program's own run configuration (build.sbt).
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = ["java"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # No hsperfdata file under the system tmp dir: the run writes only
    # inside the checkout.
    cmd += ["-XX:-UsePerfData", f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classpath), "graft.perfbench.Harness"]
    cmd += [f"{k}={v}" for k, v in conf.items()]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness JVM exceeded the time limit:\n{tail_of(log_path)}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        fail(f"harness JVM exited with {code}:\n{tail_of(log_path)}")
    with open(conf["out"]) as f:
        return json.load(f)


def clean_stale(runs_root):
    """Remove run directories left by runs that were killed."""
    for name in os.listdir(runs_root):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit():
            try:
                os.kill(int(pid), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(runs_root, name), ignore_errors=True)
            except PermissionError:
                pass


def tail_of(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def oracle_check(root, corpus, dumps, deadline):
    """tools/verify_local.py, unchanged: DuckDB runs each dumped query's
    oracle SQL on the same corpus and compares schema, types and rows."""
    with open(os.path.join(dumps, "oracle_sql.json")) as f:
        checked = sorted(json.load(f))
    res = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "verify_local.py"), corpus, dumps],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(5.0, deadline - time.time()))
    got = metrics.oracle_results(res.stdout)
    return {q: got.get(q, "no oracle verdict") for q in checked}


def main():
    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("run from the repo root (no BENCHMARK.json here)")
    if not os.path.isfile(os.path.join(root, "tools", "verify_local.py")):
        fail("tools/verify_local.py is missing; run from a full checkout")
    classpath = build.ensure(root)
    deadline = time.time() + DEADLINE_S

    wl = WORKLOADS[args.workload]
    runs_root = os.path.join(root, ".bench_runs")
    os.makedirs(runs_root, exist_ok=True)
    clean_stale(runs_root)
    run_dir = os.path.join(runs_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    try:
        conf = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "run": run_dir, "out": os.path.join(run_dir, "result.json"),
            "spans": spans_path, "cpus": len(os.sched_getaffinity(0)),
        }
        gen_s = 0.0
        if args.workload == "catalog_sf0.1":
            import gen_corpus
            corpus = os.path.join(run_dir, "corpus")
            t0 = time.time()
            corpus_bytes = gen_corpus.generate(corpus, wl["sf"], args.seed)
            gen_s = time.time() - t0
            conf.update(corpus=corpus, dumps=os.path.join(run_dir, "dumps"),
                        roster=os.path.join(HERE, "catalog_roster.txt"),
                        prepare=wl["prepare"], gen_s=gen_s)
        else:
            conf.update(rows=wl["rows"])
        res = run_jvm(classpath, run_dir, conf,
                      deadline - (VERIFY_RESERVE_S if "corpus" in conf else 0))

        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        layers = dict(res["layers"])
        if args.workload == "catalog_sf0.1":
            with open(os.path.join(HERE, "queries.txt")) as f:
                pinned = [line.strip() for line in f if line.strip()]
            n, bad, missing = metrics.pinned_ops(pinned, res["declared"])
            attempted += n
            failed += bad
            failures += [f"pinned query {q} is not declared" for q in missing]
            verdicts = oracle_check(root, corpus, conf["dumps"], deadline)
            attempted += len(verdicts)
            for q, why in verdicts.items():
                if why is not None:
                    failed += 1
                    failures.append(f"oracle {q}: {why}")
            artifact_bytes, artifact_files = dir_usage(os.path.join(run_dir, "tmp"))
            layers.update({"setup.artifact_bytes": artifact_bytes,
                           "setup.artifact_files": artifact_files})
            amp = metrics.storage_amp(artifact_bytes, corpus_bytes)
            oracle_line = f"oracle: {sum(v is None for v in verdicts.values())}/{len(verdicts)} pass"
        else:
            amp = metrics.storage_amp(layers.pop("storage.bytes"), layers.pop("storage.input_bytes"))
            oracle_line = "output checks: row accounting + genre_average_revenue recomputation"
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lat = res["latencies_s"]
    tail_v, tail_pct, tail_n = metrics.tail(lat)
    e2e = {
        "setup_s": gen_s + res["jvm_to_ready_s"],
        "warmup_s": res["warmup_s"],
        "run_s": metrics.median(res["passes_s"]),
        "query_p50_s": metrics.median(lat),
        "query_tail_s": tail_v,
        "storage_amp": amp,
    }
    print(f"workload={args.workload} seed={args.seed} timed passes (s): "
          f"{' '.join(f'{p:.2f}' for p in res['passes_s'])}; {len(lat)} latency samples, "
          f"tail = p{tail_pct:.1f} with {tail_n} samples beyond")
    print(f"{oracle_line}; attempted={attempted} failed={failed} "
          f"error_rate={metrics.error_rate(attempted, failed):.4f}")
    for f in failures[:20]:
        print(f"FAILED: {f}")
    if args.trace:
        print(f"tracing overhead: {layers.get('trace.overhead_s', 0.0):.3f} s per pass; "
              f"spans in {os.path.relpath(spans_path, root)}")
        chosen = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
