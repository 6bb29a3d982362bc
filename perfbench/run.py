#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (the harness is the sbt project in this
directory, which depends on the repository build) and caches the runtime
classpath under .bench_build/perfbench; later runs reuse it while the
sources are unchanged. Inputs are made from the seed; outputs are checked
on every run. The last line of standard output is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones (END_TO_END); with
--trace 1 they are the per-layer ones (layers.PER_LAYER), from a run that
also repeats the untraced measurement so the tracing overhead shows. The
line before it is a JSON detail record (per-query and per-phase figures).
README.md in this directory describes the workloads and how to read a
traced run. Exits non-zero, without a result line, if it cannot build or
run the program.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from stats import percentile  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.1")

WORKLOADS = {
    # the local route of two size switches (5,000 docs is under their
    # 20,000-doc bound) and a job-heavy query body: per-query fixed cost
    "batch_sf01": {"kind": "batch", "queries": [
        "q_dedup_minhash_lsh", "q_dedup_containment", "q_novel_ngrams"]},
    # open loop through HTTP and SSE: event-to-emit latency. The entity
    # simulator stays off: its two extra streaming queries doubled the emit
    # latency and its run-to-run spread on 4 cores
    "cdp_serve_soak": {"kind": "soak", "rate": 150, "conns": 3, "users": 150,
                       "warm_seconds": 40},
}

END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("cpu_ms_per_op", "ms"),
              ("peak_rss_mb", "MB"), ("heap_live_mb", "MB")]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no program sources next to the benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java are needed on PATH")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
        except subprocess.TimeoutExpired:
            raise BenchError("build timed out")
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or os.path.join("perfbench", "target") not in cp:
        raise BenchError(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- processes

def java(cp, work, main, args, xmx):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed, pre-touched heap keeps G1's timing-driven heap sizing out
    # of peak_rss_mb, which then moves with native memory; heap_live_mb is
    # what follows the program's own heap
    return cmd + [f"-Xms{xmx}", f"-Xmx{xmx}", "-XX:+AlwaysPreTouch",
                  "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
                  f"-Dspark.local.dir={tmp}",
                  f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                  "-cp", cp, main] + [str(a) for a in args]


class Procs:
    """Every process the run starts; all are stopped and waited for."""

    def __init__(self):
        self.procs = []

    def start(self, cmd, work, **kw):
        log = open(os.path.join(work, f"proc{len(self.procs)}.log"), "w")
        p = subprocess.Popen(cmd, cwd=work, stderr=log, text=True, **kw)
        self.procs.append((p, log))
        return p

    def run(self, cmd, work, timeout):
        p = self.start(cmd, work, stdout=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{cmd[-1]} timed out")
        if rc != 0:
            raise BenchError(f"process exited with {rc}: {' '.join(cmd[-6:])}")

    def stop_all(self):
        for p, log in self.procs:
            if p.poll() is None:
                p.terminate()
                try:
                    p.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    p.kill()
                    p.wait()
            log.close()


def load(path):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- workloads

def run_batch(cfg, a, cp, work, procs):
    queries = list(cfg["queries"])
    random.Random(a.seed).shuffle(queries)
    out = os.path.join(work, "batch.json")
    procs.run(java(cp, work, "perfbench.BatchMain", [
        "--data", DATA, "--queries", ",".join(queries), "--seconds", a.seconds,
        "--trace", a.trace, "--cores", os.cpu_count(),
        "--out", out], "2g"), work, timeout=170)
    r = load(out)
    expected = load(os.path.join(HERE, "expected.json"))
    mismatches = [q for q, c in r["checks"].items() if c != expected.get(q)]
    m = r["measured"]
    plain = [p for p in m["passes"] if not p["traced"]]
    traced = {p["pass"] for p in m["passes"] if p["traced"]}
    samples = m["samples"]
    ok = [s for s in samples if "error" not in s]
    e2e = {"setup_s": r["setup_s"],
           "latency_p50_ms": percentile([p["wall_s"] * 1000.0 for p in plain], 50),
           "cpu_ms_per_op": percentile([p["cpu_s"] * 1000.0 for p in plain], 50),
           "peak_rss_mb": r["peak_rss_mb"], "heap_live_mb": r["heap_live_mb"]}
    detail = {"queries": queries, "pass_wall_s": [p["wall_s"] for p in plain],
              "query_wall_s": {q: percentile([s["wall_s"] for s in ok if s["query"] == q
                                              and s["pass"] not in traced], 50)
                               for q in queries},
              "check_mismatches": mismatches,
              "errors": [s["query"] + ": " + s["error"] for s in samples if "error" in s]}
    per_layer = None
    if a.trace:
        per_layer, d = layers.batch([s for s in samples if s["pass"] in traced],
                                    r["trace"], r["cores"])
        per_layer["trace.overhead_pct"] = layers.overhead_pct(
            e2e["latency_p50_ms"],
            percentile([p["wall_s"] * 1000.0 for p in m["passes"] if p["traced"]], 50))
        detail["trace"] = d
    failed = len(samples) - len(ok) + len(mismatches)
    return e2e, per_layer, len(samples) + len(r["checks"]), failed, not mismatches, detail


def _ts(s):
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def run_soak(cfg, a, cp, work, procs):
    port_file = os.path.join(work, "port")
    server = procs.start(java(cp, work, "perfbench.ServeEntry", [
        "--port-file", port_file, "--cores", os.cpu_count()], "2g"),
        work, stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    deadline = time.monotonic() + 120
    while not os.path.exists(port_file):
        if server.poll() is not None or time.monotonic() > deadline:
            raise BenchError("the server did not start")
        time.sleep(0.1)
    port = int(open(port_file).read())

    def command(c):
        server.stdin.write(c + "\n")
        server.stdin.flush()

    phases = [("warm", cfg["warm_seconds"]), ("measure", a.seconds)]
    if a.trace:  # untraced, traced, untraced: both see the same warm-up
        phases += [("traced", a.seconds), ("after", a.seconds)]
    out = os.path.join(work, "loadgen.json")
    lg = procs.start([str(x) for x in [
        sys.executable, os.path.join(HERE, "loadgen.py"), "--port", port,
        "--rate", cfg["rate"], "--conns", cfg["conns"], "--users", cfg["users"],
        "--seed", a.seed,
        "--phases", ",".join(f"{n}:{s}" for n, s in phases), "--out", out]],
                     work, stdout=subprocess.PIPE)
    for line in lg.stdout:
        if line.strip() == "PHASE measure":
            command("mark")
        elif line.strip() == "PHASE traced":
            command("trace")
        elif line.strip() == "PHASE after":
            command("untrace")
    if lg.wait(timeout=150) != 0:
        raise BenchError("the load generator failed")
    dump = os.path.join(work, "server.json")
    command(f"dump {dump}")
    server.stdout.readline()
    command("quit")
    server.wait(timeout=60)
    srv, g = load(dump), load(out)

    frames = [f for f in g["frames"] if f.get("segment") != "reengage"]
    accepted = sum(p["accepted"] for p in g["phases"].values())
    expected = sum(p["expected_frames"] for p in g["phases"].values())
    problems = []
    if srv["processed"] != accepted:
        problems.append(f"processed {srv['processed']} != accepted {accepted}")
    if srv["feeder_dropped"]:
        problems.append(f"feeder dropped {srv['feeder_dropped']}")
    if len(frames) != expected:
        problems.append(f"segment frames {len(frames)} != expected {expected}")
    if srv["segment_frames"] != len(g["frames"]):
        problems.append(f"frames published {srv['segment_frames']} != received {len(g['frames'])}")

    def phase_figures(name):
        ph = g["phases"][name]
        recs = ph["records"]
        prefix = f"user:{name[0]}u"
        emit = [(f["recv"] - _ts(f["ts"])) * 1000.0 for f in frames
                if f["profileId"].startswith(prefix)]
        return {"emit": emit,
                "post": [(r["end"] - r["due"]) * 1000.0 for r in recs],
                "late": [(r["start"] - r["due"]) * 1000.0 for r in recs],
                "failed": sum(1 for r in recs if r["status"] != 202),
                "attempted": len(recs), "accepted": ph["accepted"]}

    m = phase_figures("measure")
    if len(m["emit"]) < 10:
        problems.append(f"only {len(m['emit'])} emit-latency samples")
    e2e = {"setup_s": srv["setup_s"],
           "latency_p50_ms": percentile(m["emit"], 50),
           "cpu_ms_per_op": srv["cpu_s"] * 1000.0 / max(1, m["accepted"]),
           "peak_rss_mb": srv["peak_rss_mb"], "heap_live_mb": srv["heap_live_mb"]}
    late_p99 = percentile(m["late"], 99)
    detail = {"rate": cfg["rate"], "conns": g["conns"], "threads": g["threads"],
              "emit_samples": len(m["emit"]), "emit_p90_ms": percentile(m["emit"], 90),
              "emit_p99_ms": percentile(m["emit"], 99),
              "post_p50_ms": percentile(m["post"], 50), "post_p99_ms": percentile(m["post"], 99),
              "late_p99_ms": late_p99, "generator_fell_behind": late_p99 > 100.0,
              "problems": problems}
    attempted, failed = m["attempted"], m["failed"]
    per_layer = None
    if a.trace:
        t = phase_figures("traced")
        after = phase_figures("after")
        per_layer = layers.streaming(srv["trace"], ["serve_segments"])
        per_layer.update({
            "serve.accepted": t["accepted"], "serve.rejected": t["failed"],
            "serve.feeder_backlog_max": srv["feeder_backlog_max"],
            "serve.feeder_dropped": srv["feeder_dropped"],
            "serve.sse_segment_frames": len(t["emit"]),
            "serve.processed": srv["processed"],
            "serve.watermark_lag_ms": srv["watermark_lag_ms"],
            "serve.emit_p99_ms": percentile(t["emit"], 99),
            "serve.post_p50_ms": percentile(t["post"], 50),
            "serve.post_p99_ms": percentile(t["post"], 99),
            "loadgen.late_p99_ms": percentile(t["late"], 99),
            "loadgen.connections": g["conns"] + g["sse_conns"],
            "loadgen.threads": g["threads"],
            "loadgen.fell_behind": int(percentile(t["late"], 99) > 100.0),
            "trace.overhead_pct": layers.overhead_pct(
                percentile(m["emit"] + after["emit"], 50),
                percentile(t["emit"], 50))})
        attempted += t["attempted"] + after["attempted"]
        failed += t["failed"] + after["failed"]
    return e2e, per_layer, attempted, failed + len(problems), not problems, detail


RUNNERS = {"batch": run_batch, "soak": run_soak}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    procs = Procs()
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        cp = build()
        os.makedirs(work)
        cfg = WORKLOADS[a.workload]
        e2e, per_layer, attempted, failed, correct, detail = \
            RUNNERS[cfg["kind"]](cfg, a, cp, work, procs)
    except (BenchError, OSError, ValueError, KeyError, subprocess.SubprocessError) as e:
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        for log in sorted(os.listdir(work)) if os.path.isdir(work) else []:
            if log.endswith(".log"):
                with open(os.path.join(work, log)) as f:
                    tail = [ln for ln in f.read().splitlines() if "WARN" not in ln][-15:]
                print(f"--- {log}\n" + "\n".join(tail), file=sys.stderr)
        return 1
    finally:
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        metrics = layers.complete(per_layer)
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in END_TO_END}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": detail}))
    print(json.dumps({"correct": bool(correct) and failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
