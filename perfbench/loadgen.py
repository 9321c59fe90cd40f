"""The load generator: a process of its own that hosts the Kafka broker
(``MiniBroker``) and sends the ``live_50fps`` tape into it on an open-loop
schedule.

It encodes the whole tape before it reports ready, so encoding never
competes with the schedule.  Commands arrive one JSON object per line
on stdin; replies go to stdout:

  {"cmd": "schedule", "t0": T}  frame i is due at monotonic time
                                T + i * 20 ms and is sent then, however
                                far the system has fallen behind
  {"cmd": "quit"}

Usage (normally started by run.py):
  python3 perfbench/loadgen.py --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import sys
import time

import common
import tape as T


def _encode(tp: T.Tape) -> list[list[tuple[int, bytes]]]:
    """Per frame, in sending order: [(digitiser, payload)]."""
    from supermusr_data_pipeline_spark.sources.messages import encode_dev2

    times, volts, chans = T.pools(tp.seed)
    frames: list[list[tuple[int, bytes]]] = [[] for _ in tp.frames]
    for m in tp.messages:
        s = slice(m.offset, m.offset + m.n_events)
        md = {
            "ts_ns": tp.frames[m.frame].ts_us * 1000,
            "period_number": 0,
            "protons_per_pulse": 4,
            "running": True,
            "frame_number": m.frame,
            "veto_flags": m.veto,
        }
        frames[m.frame].append((m.did, encode_dev2(
            m.did, md, times[s], volts[s],
            chans[s] + m.did * T.CHANNELS_PER_DIGITISER,
        )))
    return frames


def _schedule(prod, frames, t0: float) -> list[float]:
    """Send each frame's messages at its due time; returns per-frame
    lateness (flush completion minus due time)."""
    lateness = []
    for i, msgs in enumerate(frames):
        due = t0 + i * T.FRAME_PERIOD_S
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        for did, payload in msgs:
            prod.send(T.TOPIC, payload, key=str(did).encode())
        prod.flush()
        lateness.append(time.monotonic() - due)
    return lateness


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    common.use_program()
    from supermusr_data_pipeline_spark.kafka import MiniBroker, MiniProducer

    t = time.perf_counter()
    frames = _encode(T.build(a.seed, a.seconds))
    build_s = time.perf_counter() - t

    out = sys.stdout
    with MiniBroker() as broker:
        broker.create_topic(T.TOPIC, partitions=T.PARTITIONS)
        prod = MiniProducer(broker.bootstrap, buffer_max=T.N_DIGITISERS * 16)
        common.send(out, {"event": "ready", "bootstrap": broker.bootstrap,
                          "input_build_s": build_s})
        try:
            while True:
                cmd = common.recv(sys.stdin)
                if cmd["cmd"] == "schedule":
                    late = _schedule(prod, frames, cmd["t0"])
                    common.send(out, {"event": "scheduled", "lateness_s": late})
                elif cmd["cmd"] == "quit":
                    break
        finally:
            prod.close()


if __name__ == "__main__":
    main()
