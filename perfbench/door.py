"""System process for ``live_50fps``: the fetch-loop NeXus door
(``FetchLoopNexusWriter``) consuming the load generator's broker on its
open-loop schedule and writing per-run Parquet.

After the run it times ``SETUPS`` restarts of the door in this process,
each a consumer connect, the door's construction and the load of the
state the run left in the sink.

Commands on stdin, events on stdout (one JSON object per line); the
figures go to ``<work>/system.json`` and the spans to
``<work>/spans.jsonl``.  Started by run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

import common
import tape as T

# set-up takes ~2.5 ms, and a shared 4-vCPU VM's speed swings by a fifth
# from one second to the next; spacing the samples over 2 s steadies their
# median
SETUPS = 20
SETUP_GAP_S = 0.1
DRAIN_S = 30  # after the last frame is due; past this, frames are lost
SETTLE_S = 0.6  # > the default 500 ms frame TTL: a late wrong dispatch lands


class Door:
    """One door instance plus the commit clock the benchmark reads."""

    def __init__(self, args, sink: str, runs, tracer: common.Tracer):
        from supermusr_data_pipeline_spark.kafka import MiniConsumer
        from supermusr_data_pipeline_spark.streaming.nexus_fetchloop import (
            FetchLoopNexusWriter,
        )

        self.commit_t: dict[int, float] = {}
        self.want: set[int] = set()
        self.all_in = threading.Event()
        self.lock = threading.Lock()
        # the consumer the door would build itself, built here so that
        # set-up includes the connect
        consumer = MiniConsumer(
            args.bootstrap, [T.TOPIC], starting_offsets="earliest",
            client_id="nexus-fetchloop",
        )
        self.writer = FetchLoopNexusWriter(
            runs, sink, list(range(T.N_DIGITISERS)), args.bootstrap, [T.TOPIC],
            on_commit=self._on_commit, consumer_factory=lambda: consumer,
        )
        self.writer.poll_once(records=[])  # loads the persisted state
        if tracer.enabled:
            consumer.poll = tracer.wrap("kafka.poll", consumer.poll)
            self.writer.poll_once = tracer.wrap(
                "streaming.poll_once", self.writer.poll_once
            )
        self.consumer = consumer

    def _on_commit(self, frames) -> None:
        t = time.monotonic()
        with self.lock:
            for f in frames:
                self.commit_t.setdefault(f, t)
            if self.want and self.want.issubset(self.commit_t):
                self.all_in.set()

    def expect(self, frames) -> None:
        with self.lock:
            self.want = set(frames)
            if self.want.issubset(self.commit_t):
                self.all_in.set()

    def close(self) -> None:
        self.writer.stop()
        self.consumer.close()


def _setup_times(args, sink: str, runs) -> list[float]:
    """Door set-up (connect, construct, load state) timed in-process;
    the process has already imported everything the door uses."""
    times = []
    for _k in range(SETUPS):
        t = time.perf_counter()
        door = Door(args, sink, runs, common.Tracer(False))
        times.append(time.perf_counter() - t)
        door.consumer.close()
        time.sleep(SETUP_GAP_S)
    return times


def _lag_sampler(door: Door, due_fn, stop: threading.Event, out: list) -> None:
    """Frames due minus frames committed, every 100 ms."""
    while not stop.wait(0.1):
        with door.lock:
            done = len(door.commit_t)
        out.append(due_fn() - done)


def run_live(args, runs, landed: list[int], tracer, res: dict) -> None:
    sink = os.path.join(args.work, "sink")
    door = Door(args, sink, runs, tracer)
    door.expect(landed)
    door.writer.start()
    common.send(sys.stdout, {"event": "ready"})
    t0 = common.recv(sys.stdin)["t0"]
    lag: list[int] = []
    stop = threading.Event()
    sampler = None
    if tracer.enabled:
        n = len(landed)
        sampler = threading.Thread(
            target=_lag_sampler,
            args=(door, lambda: min(n, max(0, int((time.monotonic() - t0)
                                                  / T.FRAME_PERIOD_S) + 1)),
                  stop, lag),
        )
        sampler.start()
    deadline = len(landed) * T.FRAME_PERIOD_S + DRAIN_S
    door.all_in.wait(max(0.0, t0 - time.monotonic()) + deadline)
    time.sleep(SETTLE_S)
    stop.set()
    if sampler is not None:
        sampler.join()
    door.close()
    res["setup_s"] = _setup_times(args, sink, runs)
    res["t0"] = t0
    res["commit_t"] = door.commit_t
    res["lag"] = lag
    res["commit_log"] = door.writer.commit_log
    res["poll_log"] = door.writer.poll_log


def _trace_decode(tracer: common.Tracer, counter: list) -> None:
    """Span every call into the sources layer's dev2 decoder; the door
    resolves it from its module at call time."""
    from supermusr_data_pipeline_spark.sources import decode

    traced = tracer.wrap("sources.decode", decode.dev2_arrow_batch)

    def counted(values):
        counter[0] += len(values)
        return traced(values)

    decode.dev2_arrow_batch = counted


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bootstrap", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    common.use_program()
    with open(os.path.join(args.work, "door_input.json")) as fh:
        inp = json.load(fh)
    tracer = common.Tracer(bool(args.trace))
    decoded = [0]
    res: dict = {}
    if tracer.enabled:
        _trace_decode(tracer, decoded)
    run_live(args, inp["runs"], inp["landed"], tracer, res)
    res["peak_rss_mb"], res["jvm_peak_rss_mb"] = common.peak_rss_mb()
    if tracer.enabled:
        res["decode_s"] = tracer.total("sources.decode")
        res["decoded_msgs"] = decoded[0]
        res["self_s"] = tracer.self_times()
        tracer.dump(os.path.join(args.work, "spans.jsonl"))
    with open(os.path.join(args.work, "system.json"), "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
