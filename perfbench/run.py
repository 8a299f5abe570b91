#!/usr/bin/env python3
"""The repository benchmark: the GeoNames dump transform and the declared
query surface, one client in a closed loop on local[N].

    python3 perfbench/run.py --cores 4 --heap 3g \
        --workload W --seed S --seconds T --trace 0|1

Run from the root of a checkout. It builds the program from source on
first use (perfbench/build.py), runs one benchmark process, and prints the
result as one JSON line last. --trace 0 gives the end-to-end metrics,
--trace 1 the per-layer ones (see perfbench/README.md).

Other modes, for maintaining the benchmark:
    --smoke             every workload at tiny size, both trace modes
    --record [--verified D]
                        re-record the surface's expected results, and tie
                        them to graft.Verify's dumps in D/<tables>
    --scaling FILE      single-thread baseline of geonames_dump
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected")

# The layout (local[N], shuffle partitions = N) and the heap are part of
# the benchmark's definition: sketch-merge and hash results depend on the
# partitioning, so the recorded surface results hold only at N = 4.
# BENCHMARK.json passes both explicitly.
CORES = 4
HEAP = "3g"
RUN_TIMEOUT_S = 170

# Per-workload sizes; SMOKE holds the tiny ones.
SIZES = {
    "geonames_dump": {"rows": 60000, "proxy-rows": 5000},
    "surface": {"tables": "sf0.01"},
}
SMOKE = {
    "geonames_dump": {"rows": 10000, "proxy-rows": 2000},
    "surface": {"tables": "sf0.001"},
}


_running = []


def _stop(signum, frame):
    """Stops the benchmark process group before exiting on a signal."""
    for proc in _running:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.exit(128 + signum)


def jvm(args, work, log_path, timeout=RUN_TIMEOUT_S):
    """Runs one benchmark process; returns its stdout lines."""
    cp = build.build()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in build.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed young generation keeps the resident set from following the
    # collector's adaptive sizing, so peak_rss_mb tracks retained data
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        _running.append(proc)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"benchmark process exceeded {timeout} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"benchmark process exited {proc.returncode}:\n{tail}")
    return out.splitlines()


def run_workload(workload, seed, seconds, trace, sizes, work, cores=None):
    s = sizes[workload]
    args = ["run", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores or CORES), "--work", work]
    if workload == "geonames_dump":
        args += ["--rows", str(s["rows"]), "--proxy-rows", str(s["proxy-rows"])]
    else:
        args += ["--data", os.path.join(DATA, s["tables"]),
                 "--expected", os.path.join(EXPECTED, s["tables"] + ".tsv")]
    logs = os.path.join(build.OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{workload}-seed{seed}-trace{trace}.log")
    lines = jvm(args, work, log)
    result = None
    for line in lines:
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if result is None:
        raise RuntimeError("benchmark process printed no result")
    # a run whose ops all failed has no timings; keep the line valid JSON
    for m in result["metrics"].values():
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    return result


def fresh_work(name):
    work = os.path.join(build.OUT, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def main():
    global CORES, HEAP
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--verified")
    ap.add_argument("--scaling")
    ap.add_argument("--cores", type=int, default=CORES)
    ap.add_argument("--heap", default=HEAP)
    a = ap.parse_args()
    CORES, HEAP = a.cores, a.heap

    if a.smoke:
        ok = True
        for w in sorted(SMOKE):
            for t in (0, 1):
                work = fresh_work(f"smoke-{w}")
                try:
                    r = run_workload(w, a.seed, 1, t, SMOKE, work)
                finally:
                    shutil.rmtree(work, ignore_errors=True)
                print(json.dumps({"workload": w, "trace": t, **r}))
                ok = ok and r["correct"] and r["failed"] == 0
        sys.exit(0 if ok else 1)

    if a.record:
        for tables in sorted(os.listdir(DATA)):
            work = fresh_work(f"record-{tables}")
            args = ["record", "--tables", os.path.join(DATA, tables),
                    "--out", os.path.join(EXPECTED, tables + ".tsv"),
                    "--cores", str(CORES), "--work", work]
            if a.verified:
                args += ["--verified", os.path.join(os.path.abspath(a.verified), tables)]
            try:
                for line in jvm(args, work, os.path.join(work, "..", f"record-{tables}.log"),
                                timeout=3600):
                    print(line)
            finally:
                shutil.rmtree(work, ignore_errors=True)
        return

    if a.scaling:
        scaling(a.scaling, a.seed)
        return

    if a.workload is None:
        ap.error("--workload is required")
    work = fresh_work(a.workload)
    try:
        r = run_workload(a.workload, a.seed, a.seconds, a.trace, SIZES, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(r))


def scaling(out_file, seed):
    """Informational: geonames_dump rows/s at local[1] and local[N], and
    tools/reference_proxy.js rows/s on the same staging."""
    rows = SIZES["geonames_dump"]["rows"]
    report = {"rows": rows, "seed": seed}
    for cores in (1, CORES):
        work = fresh_work(f"scaling-{cores}")
        try:
            r = run_workload("geonames_dump", seed, 30, 0, SIZES, work, cores=cores)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        report[f"local[{cores}]"] = {k: v["value"] for k, v in r["metrics"].items()}
    work = fresh_work("scaling-proxy")
    try:
        stage = os.path.join(work, "stage")
        jvm(["generate", "--seed", str(seed), "--rows", str(rows), "--out", stage],
            work, os.path.join(work, "generate.log"))
        shutil.copy(os.path.join(stage, "allCountries.txt"), os.path.join(stage, "ac"))
        runs = []
        for _ in range(3):
            p = subprocess.run(["node", os.path.join("tools", "reference_proxy.js"), stage,
                                os.path.join(work, "proxy.ndjson")],
                               cwd=ROOT, capture_output=True, text=True, check=True)
            runs.append(json.loads(p.stdout.strip().splitlines()[-1]))
        report["reference_proxy"] = {
            "rows_per_s": sorted(x["rows_per_sec"] for x in runs)[1],
            "note": "the proxy hard-codes its own filter and type config"}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out_file, "w") as fh:
        json.dump(report, fh, indent=2)
        fh.write("\n")
    print(json.dumps(report))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    try:
        main()
    except (build.BuildError, RuntimeError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
