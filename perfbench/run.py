#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <feed-backfill|query-mix>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test          # generator parity test
    python3 perfbench/run.py --record-refs <dir>  # refs.json from a graft.Verify output

Run from the root of a checkout. The program and the benchmark are built
from source first (perfbench/build.py). Feed workloads start the load
generator as a separate JVM; the benchmark JVM drives the program through
its public entry points. With --trace 0 the result holds the end-to-end
metrics of BENCHMARK.json; with --trace 1 the per-layer ones, from a run
with the benchmark's listeners and spans on. A per-layer metric of a layer
the workload does not exercise (MEASURED below) reads 0; one it does
exercise must have been measured, or the run fails. Traces are written
under the build directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("feed-backfill", "query-mix")
JVM_TIMEOUT_S = 165
# each workload's own names for its end-to-end numbers, with units
NAMED = {
    "feed-backfill": [("backfill_eps", "1/s"), ("backfill_1p_eps", "1/s")],
    "query-mix": [("query_mix_s", "s"), ("query_p50_ms", "ms"), ("query_p90_ms", "ms"),
                  ("query_top_quarter_ms", "ms")],
}
# the per-layer metrics each workload measures: (name prefixes, exceptions)
MEASURED = {
    "feed-backfill": (("connector.", "engine.", "gen.", "trace."),
                      ("engine.first_run_extra_ms", "engine.driver_only_ms")),
    "query-mix": (("streaming.", "engine.", "ops.", "hygiene.", "trace."), ()),
}
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

children = []


def stop_children():
    for p in children:
        if p.poll() is None:
            try:
                if p.stdin:
                    p.stdin.close()
            except OSError:
                pass
            try:
                p.wait(timeout=5)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


def start_generator(bench_classes, jars):
    scala_lib = [os.path.join(jars, f) for f in os.listdir(jars) if f.startswith("scala-library-")]
    cmd = ["java", "-Dsun.net.httpserver.nodelay=true", "-Xmx768m", "-XX:+UseSerialGC",
           "-cp", os.pathsep.join([bench_classes] + scala_lib), "perfbench.FeedGen"]
    p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    children.append(p)
    line = [None]
    t = threading.Thread(target=lambda: line.__setitem__(0, p.stdout.readline()), daemon=True)
    t.start()
    t.join(20)
    if not line[0] or not line[0].startswith("PORT "):
        raise SystemExit("perfbench: the load generator did not start")
    return int(line[0].split()[1])


def run_jvm(prog, bench, jars, work, args, gen_port):
    cmd = (["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o)] +
           ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", os.pathsep.join([prog, bench, os.path.join(jars, "*")]),
            "perfbench.PerfBench", "--root", os.getcwd(), "--work", work] + args)
    if gen_port:
        cmd += ["--gen-port", str(gen_port)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        children.append(p)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the benchmark JVM did not finish in time")
    if p.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"perfbench: the benchmark JVM failed with code {p.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-refs")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.record_refs):
        ap.error("--workload is required")

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    prog, bench, jars = build.build()
    base = build.build_dir()
    work = os.path.abspath(os.path.join(base, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            out = run_jvm(prog, bench, jars, work, ["--workload", "parity"], 0)
            print(out.strip().splitlines()[-1])
            return
        if a.record_refs:
            out = run_jvm(prog, bench, jars, work,
                          ["--workload", "record-refs", "--verify-out", os.path.abspath(a.record_refs)], 0)
            print(out.strip().splitlines()[-1])
            return
        gen_port = start_generator(bench, jars) if a.workload.startswith("feed-") else 0
        out = run_jvm(prog, bench, jars, work,
                      ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace)], gen_port)
        stop_children()
        res_lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if not res_lines:
            raise SystemExit("perfbench: the benchmark JVM printed no result")
        res = json.loads(res_lines[-1][len("PERFBENCH_RESULT "):])
        for tf in os.listdir(work):
            if tf.startswith("trace-"):
                os.makedirs(os.path.join(base, "traces"), exist_ok=True)
                shutil.copy(os.path.join(work, tf), os.path.join(base, "traces", tf))
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    detail = res["detail"]
    if a.trace == 0:
        wanted = spec["end_to_end"]
        expected = [m["name"] for m in wanted]
    else:
        wanted = spec["per_layer"]
        prefixes, exceptions = MEASURED[a.workload]
        expected = [m["name"] for m in wanted
                    if m["name"].startswith(prefixes) and m["name"] not in exceptions]
    missing = [n for n in expected if n not in got]
    if missing:
        raise SystemExit(f"perfbench: the run did not measure {missing}")
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    not_exercised = sorted(m["name"] for m in wanted if m["name"] not in expected)
    print("perfbench detail: " + json.dumps({"workload": a.workload, "seed": a.seed, **detail,
                                             "problems": res["problems"],
                                             **({"not_exercised": not_exercised} if a.trace else {})}))
    if a.trace == 0:
        named = [(n, detail[n], u) for n, u in NAMED[a.workload]] + \
                [(n, got[n], u) for n, u in (("setup_s", "s"), ("heap_peak_mb", "MB"))]
        print(f"perfbench {a.workload}: " + ", ".join(f"{n} = {v:.6g} {u}" for n, v, u in named))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": max(1, int(res["attempted"])), "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        main()
    finally:
        stop_children()
