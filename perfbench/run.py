#!/usr/bin/env python3
"""Pipeline benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. A run builds the engine and the harness
if their sources changed (perfbench/build.py), makes the seed's inputs
(perfbench/data.py), then starts the
harness JVM: set-up, one cold pass over the workload's rows, warm passes for about
S seconds, and an untimed check pass whose outputs are compared with the
DuckDB oracle (perfbench/oracle.py). The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
(listeners on, same passes). Human-readable lines come before it.

Exits 2 without a result when the tree holds no engine sources, no Spark
jars or no corpus, and 1 when a JVM fails or the run overruns its time.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import data  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170        # a run must finish within 180 s once built


class RunFailed(Exception):
    pass


def launch(cmd, cwd, log, deadline):
    """Run a harness JVM; return seconds from launch to its ready line."""
    t0 = time.monotonic()
    remaining = deadline - t0
    if remaining <= 0:
        raise RunFailed("out of time before launching a JVM")
    with open(log, "a") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err, text=True)
        timer = threading.Timer(remaining, p.kill)
        timer.start()
        ready = None
        try:
            for line in p.stdout:
                if ready is None and line.strip() == "perfbench: ready":
                    ready = time.monotonic() - t0
            p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or ready is None:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RunFailed(f"JVM exited with {p.returncode}:\n{tail}")
    return ready


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM (launch's finally kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    root = os.getcwd()
    wl = workloads.WORKLOADS[a.workload]
    try:
        cp = build.build(root)
        sf = data.inputs(root, a.seed)
    except (build.BuildError, data.DataError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    # the deadline counts from here: a first run spends longer on the build
    deadline = time.monotonic() + DEADLINE_S

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    tmp, cwd, check_dir = (os.path.join(run_dir, d) for d in ("tmp", "cwd", "check"))
    for d in (tmp, cwd):
        os.makedirs(d, exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    out = os.path.join(run_dir, "record.json")
    warm = wl.warm_passes(a.seconds)
    try:
        setup_s = launch(build.java_cmd(cp, tmp, [
            "--cpus", str(len(os.sched_getaffinity(0))), "--sf", sf,
            "--rows", ",".join(wl.rows), "--warm", str(warm), "--trace", str(a.trace),
            "--stages", str(int(wl.stages)), "--out", out, "--check", check_dir]),
            cwd, log, deadline)
        t_jvm = time.monotonic()
        with open(out) as f:
            record = json.load(f)
        verdict = oracle.check(
            root, sf, a.seed, check_dir, record["oracle_sql"], record["check_errors"])
    except RunFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(check_dir, ignore_errors=True)

    t_check = time.monotonic() - t_jvm
    run = metrics.Run(record)
    attempted, failed = run.executions()
    attempted += len(verdict)
    failed += sum(1 for v in verdict.values() if v is not None)
    e2e, tail = run.end_to_end(setup_s)
    attrs = run.root["attrs"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {len(wl.rows)} rows, "
          f"1 cold + {warm} warm passes, local[{attrs['cpus']}], heap {attrs['heap_max_mb']} MB, "
          f"java {attrs['java']}, spark {attrs['spark']}")
    n_rows = len(run.rows(run.warm))
    notes = {
        "setup_s": "JVM launch to session ready",
        "cold_s": "1 cold pass",
        "total_s": f"1 cold + {len(run.warm)} warm passes",
        "warm_s": f"median of {len(run.warm)} warm passes",
        "op_p50_s": f"median of {n_rows} warm row executions",
        "op_tail_s": (f"p{tail[0]} of {tail[2]} warm row executions, {tail[3]} beyond it"
                      if tail else f"max of {n_rows} (fewer than 11 samples)"),
        "cpu_s": "process user+sys over the timed passes",
        "live_heap_mb": "after a full GC at the end of the cold pass",
    }
    for name, unit in metrics.END_TO_END:
        print(f"  {name:14s} {e2e[name]:10.4f} {unit:5s} {notes[name]}")
    for name, unit in metrics.WARM:
        print(f"  {name:14s} {e2e[name]:10.4f} {unit:5s} {notes[name]} (not bounded)")
    print(f"  {'fail_share':14s} {metrics.fail_share(attempted, failed):10.4f} ratio "
          f"{failed} failed of {attempted} row executions (timed passes + output checks)")
    for name, why in sorted(verdict.items()):
        print(f"  check {name}: {'ok' if why is None else 'FAIL ' + why}")
    for s in run.spans:
        if s["kind"] == "row" and not s["attrs"]["ok"]:
            print(f"  error {s['name']} in pass {s['parent']}: {s['attrs'].get('error')}")
    print(f"  output check: {'pass' if failed == 0 else 'FAIL'} ({t_check:.1f} s to compare)")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    key = os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}")
    with open(f"{key}-trace{a.trace}.json", "w") as f:
        json.dump({"end_to_end": e2e, "record": record}, f)
    if a.trace:
        values = run.per_layer()
        try:
            with open(f"{key}-trace0.json") as f:
                base = json.load(f)["end_to_end"]
            for name, _ in metrics.END_TO_END + metrics.WARM:
                print(f"  trace overhead {name}: {e2e[name] - base[name]:+.4f} "
                      f"(traced {e2e[name]:.4f}, untraced {base[name]:.4f})")
        except FileNotFoundError:
            print("  trace overhead: no untraced run of this workload and seed yet")
        spec = metrics.per_layer_spec()
    else:
        values = e2e
        spec = [(n, u, None) for n, u in metrics.END_TO_END]
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
