#!/usr/bin/env python3
"""CDC benchmark: live binlog -> replica + GSI freshness, and WAL backlog
drain.

    python3 cdcbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source (see
build.py), runs the workload in a fresh JVM and prints, as the last line
of stdout, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A traced run first runs the workload untraced
with the same seed (for `trace.overhead_ratio`), then traced; both
passes make one set-up instead of several. For wal_backlog_drain the
traced JVM then drains once more at local[1], a single-thread baseline.
It writes spans, the self-time table and the host stamp to
.bench_build/cdcbench/traces/. `--rate R` overrides the binlog
workload's event rate, for the rate sweep in cdcbench/WORKLOADS.md.
Workloads and their sizes: cdcbench/WORKLOADS.md.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("binlog_gsi_live", "wal_backlog_drain")
DEADLINE_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(root, out, cp, deadline, workload, seed, seconds, trace, rate=None,
            brief=False, baseline=False):
    """One workload run in its own JVM; returns its record."""
    tag = f"{workload}-{seed}-{'trace' if trace else 'run'}"
    run_root = out / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_root, ignore_errors=True)
    run_root.mkdir(parents=True)
    rec_file = out / "runs" / f"{tag}-{os.getpid()}.json"
    (out / "logs").mkdir(parents=True, exist_ok=True)
    log = out / "logs" / f"{tag}.log"
    # a fixed, pre-touched heap: peak RSS then moves with native and
    # off-heap memory, not with when the collector chose to grow the heap
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_root}", "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.cdcbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--root", str(run_root), "--out", str(rec_file)]
    if rate:
        cmd += ["--rate", str(rate)]
    if brief:
        cmd += ["--brief", "1"]
    if baseline:
        cmd += ["--baseline", "1"]
    t0 = time.time()
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                p.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise SystemExit(f"cdcbench: {tag} timed out; log in {log}")
            finally:
                # the run's own generator process shares the session
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if p.returncode != 0 or not rec_file.is_file():
            sys.stderr.write(log.read_text()[-4000:])
            raise SystemExit(f"cdcbench: {tag} failed with exit code {p.returncode}")
        rec = json.loads(rec_file.read_text())
        rec["wall_s"] = round(time.time() - t0, 1)
        return rec
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        if rec_file.exists():
            rec_file.unlink()


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def overhead(untraced, traced):
    """traced / untraced for every end-to-end metric, oriented so that
    above 1 means tracing made it worse; the headline is their median."""
    ratios = {}
    for k, v in untraced["e2e"].items():
        t = traced["e2e"].get(k, {}).get("value")
        u = v["value"]
        if t and u:
            ratios[k] = u / t if v["unit"] == "1/s" else t / u
    return (statistics.median(ratios.values()) if ratios else 1.0), ratios


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # binlog_gsi_live only, for the rate sweep in WORKLOADS.md; the
    # benchmark itself runs at the workload's fixed rate
    ap.add_argument("--rate", type=float)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    root = Path.cwd()
    out = root / ".bench_build" / "cdcbench"
    cp = build.build(root, out)
    cpu0 = cpu_times()

    if not a.trace:
        rec = run_jvm(root, out, cp, deadline, a.workload, a.seed, a.seconds, False, a.rate)
        records = [rec]
        metrics = rec["e2e"]
    else:
        # the untraced side of the overhead ratio: same seed, same host
        # state, run just before the traced one. Both passes are brief
        # (one set-up; see Ctx.brief), so that the two fit the run's time
        wal = a.workload == "wal_backlog_drain"
        base = run_jvm(root, out, cp, deadline, a.workload, a.seed, a.seconds, False, a.rate,
                       brief=True)
        rec = run_jvm(root, out, cp, deadline, a.workload, a.seed, a.seconds, True, a.rate,
                      brief=True, baseline=wal)
        records = [base, rec] + ([rec["baseline"]] if wal else [])
        med, ratios = overhead(base, rec)
        metrics = dict(rec["layer"])
        metrics["trace.overhead_ratio"] = {"value": med, "unit": "ratio"}
        dump = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "untraced": base, "traced": rec, "overhead_ratios": ratios}
        if wal:
            # single-thread baseline: context only, not a gated metric
            dump["single_thread_baseline"] = {
                "drain_eps_local1": rec["baseline"]["drain_eps"],
                "drain_eps_localn": base["e2e"]["drain_eps"]["value"],
                "cpus_n": base["cpus"]}
        traces = out / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        path = traces / f"{a.workload}-seed{a.seed}.json"
        path.write_text(json.dumps(dump))
        print(f"cdcbench: trace written to {path.relative_to(root)}")
        self_time = rec.get("info", {}).get("self_time")
        if self_time:
            print("cdcbench: self time by layer: " + json.dumps(self_time))

    # host time stolen by other tenants during this run, as context
    d = [y - x for x, y in zip(cpu0, cpu_times())]
    steal = 100.0 * d[7] / max(1, sum(d))
    info = {k: v for k, v in rec.get("info", {}).items()
            if k not in ("spans", "self_time", "read_spans", "read_self_time")}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cpus": rec["cpus"],
                      "cpu_steal_pct": round(steal, 2), "pass_s": [r["wall_s"] for r in records if "wall_s" in r],
                      "checks": [c for r in records for c in r["checks"]],
                      "info": info, "env": rec["env"]}))
    print(json.dumps({
        "correct": all(r["correct"] for r in records),
        "attempted": sum(r["attempted"] for r in records),
        "failed": sum(r["failed"] for r in records),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
