"""The repository's benchmark: one command, two workloads, every metric
printed by name with its unit, every output checked.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for sizes and the layers each loads):
  live_50fps       open-loop 32 x ~500-event dev2 frames at 50 frames/s
                   into the fetch-loop NeXus door
  trace_reprocess  simulator traces -> daq_chain -> write_nexus (Spark)

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` measures the
workload untraced and then traced, with the same seed, and prints the
per-layer metrics (spans around the calls into each layer, the door's
own logs and, for Spark, Spark's event log) plus the tracing overhead
between the two: ``live_50fps`` as two runs, ``trace_reprocess`` as two
phases of one run (see batch.py).  The metric names and units are BENCHMARK.json's.  The
last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}.

The system under test always runs in a child process of its own; the
load generator is another.  Everything is written under .bench_work/
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import check
import common
import tape as T

CHILD_TIMEOUT_S = 170
BEHIND_S = T.FRAME_PERIOD_S  # generator p99 lateness above one frame period
PRIMARY = {  # the metric each workload is chosen for (tracing overhead)
    "live_50fps": "latency_p50_s", "trace_reprocess": "items_per_s",
}


class Child:
    """A child process speaking the one-JSON-object-per-line protocol."""

    def __init__(self, argv: list[str], env: dict):
        self.p = subprocess.Popen(
            [sys.executable, *argv], cwd=common.ROOT, env=env, text=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )

    def send(self, obj: dict) -> None:
        common.send(self.p.stdin, obj)

    def recv(self, event: str) -> dict:
        while True:
            line = self.p.stdout.readline()
            if not line:
                raise RuntimeError(f"child exited before {event!r}")
            if line.startswith("{"):
                msg = json.loads(line)
                if msg.get("event") == event:
                    return msg

    def wait(self) -> None:
        if self.p.wait(timeout=CHILD_TIMEOUT_S) != 0:
            raise RuntimeError(f"child {self.p.args[1]} exited {self.p.returncode}")

    def kill(self) -> None:
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()


def _script(name: str) -> str:
    return os.path.join(common.HERE, name)


def run_live(a, work: str, env: dict, trace: bool) -> tuple[dict, dict, T.Tape]:
    tp = T.build(a.seed, a.seconds)
    with open(os.path.join(work, "door_input.json"), "w") as fh:
        json.dump({"runs": tp.runs, "landed": [f.index for f in tp.landed()]}, fh)
    children = []
    try:
        gen = Child([_script("loadgen.py"), "--seed", str(a.seed),
                     "--seconds", str(a.seconds)], env)
        children.append(gen)
        ready = gen.recv("ready")
        door = Child([_script("door.py"), "--bootstrap", ready["bootstrap"],
                      "--work", work, "--trace", str(int(trace))], env)
        children.append(door)
        door.recv("ready")
        t0 = time.monotonic() + 0.3
        gen.send({"cmd": "schedule", "t0": t0})
        door.send({"cmd": "go", "t0": t0})
        lateness = gen.recv("scheduled")["lateness_s"]
        door.wait()
        gen.send({"cmd": "quit"})
        gen.wait()
    finally:
        for c in children:
            c.kill()
    with open(os.path.join(work, "system.json")) as fh:
        sysres = json.load(fh)
    gen_res = {"input_build_s": ready["input_build_s"],
               "lateness_p99_s": common.quantile(lateness, 0.99)}
    return sysres, gen_res, tp


def live_metrics(work: str, sysres: dict, tp, trace: bool) -> tuple[dict, dict, tuple]:
    """End-to-end figures, per-layer figures and the check result."""
    t0 = sysres["t0"]
    ct = {int(k): v for k, v in sysres["commit_t"].items()}
    measured = [f.index for f in tp.landed() if f.index >= T.LIVE_WARMUP_FRAMES]
    lat = [ct[i] - (t0 + i * T.FRAME_PERIOD_S) for i in measured if i in ct]
    first_due = t0 + measured[0] * T.FRAME_PERIOD_S
    e2e = {
        "setup_s": common.median(sysres["setup_s"]),
        "latency_p50_s": common.quantile(lat, 0.5),
        "latency_p90_s": common.quantile(lat, 0.9),
        "latency_p99_s": common.quantile(lat, 0.99),
        "items_per_s": len(lat) / (max(ct[i] for i in measured if i in ct) - first_due),
        "peak_rss_mb": sysres["peak_rss_mb"],
    }
    checked = check.door_sink(os.path.join(work, "sink"), tp.landed())
    if not trace:
        return e2e, {}, checked
    polls = sysres["poll_log"]
    busy = [p for p in polls if p["n_records"] > 0]
    commits = sysres["commit_log"]
    lags = sysres["lag"]
    med = common.median
    lay = {
        "kafka.poll_s_p50": med([p["poll_s"] for p in polls]),
        "kafka.records_per_poll_p50": med([p["n_records"] for p in busy]),
        "kafka.lag_frames_max": max(lags) if lags else 0,
        "sources.decode_s": sysres["decode_s"],
        "sources.decode_us_per_msg": 1e6 * sysres["decode_s"]
        / max(1, sysres["decoded_msgs"]),
        "streaming.cycle_process_s_p50": med([p["process_s"] for p in busy]),
        "streaming.commit_s_p50": med([c["total_s"] for c in commits]),
        "streaming.commit_s_p99": common.quantile(
            [c["total_s"] for c in commits], 0.99) if commits else 0.0,
        "streaming.commit_decode_s_p50": med([c["decode_s"] for c in commits]),
        "streaming.commit_stage_s_p50": med([c["parts_s"] for c in commits]),
        "streaming.commit_intent_s_p50": med([c["intent_s"] for c in commits]),
        "streaming.commit_publish_s_p50": med([c["publish_s"] for c in commits]),
        "streaming.frames_per_commit_p50": med([c["n_frames"] for c in commits]),
        "streaming.busy_frac": sum(p["process_s"] for p in polls)
        / max(1e-9, sum(p["process_s"] + p["poll_s"] for p in polls)),
        **{"streaming." + k: v for k, v in checked[2].items()},
    }
    for layer, s in sysres["self_s"].items():
        lay[layer + ".self_s"] = s
    return e2e, lay, checked


def run_batch(a, work: str, env: dict, trace: bool):
    proc = Child([_script("batch.py"), "--work", work, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(int(trace))], env)
    try:
        proc.p.stdin.close()
        proc.wait()
    finally:
        proc.kill()
    with open(os.path.join(work, "system.json")) as fh:
        sysres = json.load(fh)
    return sysres, {"input_build_s": sysres["input_build_s"], "lateness_p99_s": 0.0}


def _rep_figures(reps: list[dict]) -> dict:
    walls = [r["wall_s"] for r in reps]
    return {
        "latency_p50_s": common.quantile(walls, 0.5),
        "latency_p90_s": common.quantile(walls, 0.9),
        "latency_p99_s": common.quantile(walls, 0.99),
        "items_per_s": sum(r["items"] for r in reps) / sum(walls),
    }


def batch_metrics(sysres: dict, trace: bool) -> tuple[dict, dict, tuple, dict | None]:
    """End-to-end figures, per-layer figures, the check result and, for
    the traced run, the end-to-end figures of its untraced phase."""
    reps = sysres["traced_reps"] if trace else sysres["reps"]
    e2e = {
        "setup_s": common.median(sysres["setup_s"]),
        **_rep_figures(reps),
        "peak_rss_mb": sysres["peak_rss_mb"],
    }
    ref = check.trace_reference(sysres["input"])
    checked = check.nexus_outputs(
        [r["out"] for r in sysres["reps"] + sysres.get("traced_reps", [])], ref)
    if not trace:
        return e2e, {}, checked, None
    n = len(reps)
    spans = sysres["spans"]
    lay = {"plans." + k: v for k, v in sysres["eventlog"].items()}
    lay["materialize.cached_after"] = sysres["cached_after"]
    lay["session.start_s"] = sysres["session_start_s"]
    lay["session.warmup_s"] = sysres["session_warmup_s"]
    lay["session.jvm_peak_rss_mb"] = sysres["jvm_peak_rss_mb"]
    lay["operators.event_formation_s"] = spans.get("operators.event_formation", 0.0) / n
    lay["operators.nexus_build_s"] = spans.get("operators.nexus_build_write", 0.0) / n
    lay["operators.events_formed"] = sysres["events_formed"]
    for layer, s in sysres["self_s"].items():
        # set-up happens once a run; the rest once a repetition
        lay[layer + ".self_s"] = s if layer == "session" else s / n
    return e2e, lay, checked, _rep_figures(sysres["reps"])


def measure(a, trace: bool) -> tuple[dict, dict, int, int, dict | None]:
    """One run of the workload: (end-to-end, per-layer, attempted,
    failed, end-to-end of an untraced phase of the same run or None)."""
    work = os.path.join(common.WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"), PYTHONUNBUFFERED="1")
    t = time.monotonic()
    if a.workload == "live_50fps":
        sysres, gen, tp = run_live(a, work, env, trace)
        t_sys = time.monotonic()
        e2e, lay, (attempted, failed, _fig) = live_metrics(work, sysres, tp, trace)
        base = None
    else:
        sysres, gen = run_batch(a, work, env, trace)
        t_sys = time.monotonic()
        e2e, lay, (attempted, failed, _fig), base = batch_metrics(sysres, trace)
    print(f"perfbench: {a.workload} (trace {int(trace)}): inputs and system "
          f"{t_sys - t:.1f} s, checks {time.monotonic() - t_sys:.1f} s",
          file=sys.stderr)
    if gen["lateness_p99_s"] > BEHIND_S:
        msg = {"loadgen_behind": True, "lateness_p99_s": gen["lateness_p99_s"]}
        print(json.dumps(msg))
        print(f"perfbench: the load generator fell behind its schedule: {msg}",
              file=sys.stderr)
    lay["loadgen.lateness_p99_s"] = gen["lateness_p99_s"]
    lay["loadgen.input_build_s"] = gen["input_build_s"]
    return e2e, lay, attempted, failed, base


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not common.program_present():
        print(f"perfbench: the program ({common.PACKAGE}/) is not in "
              f"{common.ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    base, attempted, failed = None, 0, 0
    if a.trace and a.workload == "live_50fps":
        # the untraced run the traced one is compared with
        base, _lay, attempted, failed, _base = measure(a, False)
    e2e, lay, at, fa, in_run_base = measure(a, bool(a.trace))
    attempted += at
    failed += fa
    if a.trace:
        base = base or in_run_base
        key = PRIMARY[a.workload]
        lower_better = next(m["better"] == "lower" for m in spec["end_to_end"]
                            if m["name"] == key)
        lay["trace.overhead_frac"] = (e2e[key] / base[key] if lower_better
                                      else base[key] / e2e[key]) - 1
        lay["trace.items_per_s"] = e2e["items_per_s"]
        lay["trace.latency_p50_s"] = e2e["latency_p50_s"]
        # the untraced tail: its run-to-run spread exceeds any bound the
        # benchmark may set (README.md)
        lay["tail.latency_p90_s"] = base["latency_p90_s"]
        lay["tail.latency_p99_s"] = base["latency_p99_s"]
        lay["check.failed_frac"] = failed / max(1, attempted)
        values, wanted = lay, spec["per_layer"]
    else:
        values, wanted = e2e, spec["end_to_end"]
    # a layer the workload does not load reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0) if a.trace
                                          else values[m["name"]]),
                           "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
