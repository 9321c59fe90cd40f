"""The seeded dev2 tape of the ``live_50fps`` workload.

A tape is the ordered list of digitiser messages the load generator
sends, plus the outcome each frame must have in the sink.  It is a pure
function of (seed, seconds), so the load generator (which encodes and
sends it) and the harness (which checks the sink against it) rebuild
the same tape independently; no payload bytes cross processes.

Shape: 32 digitisers x Poisson(500) events per message, one frame per
20 ms of tape time (50 frames/s), digitiser order shuffled per frame,
over three back-to-back runs, the last one still open.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

N_DIGITISERS = 32
EVENTS_MEAN = 500
CHANNELS_PER_DIGITISER = 8
FRAME_PERIOD_S = 0.02
FRAME_PERIOD_US = 20_000
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TOPIC = "daq-events"
PARTITIONS = 4
POOL_SIZE = 1 << 16

LIVE_WARMUP_FRAMES = 25  # first 0.5 s of beam: excluded from latency


@dataclass
class Message:
    frame: int  # tape frame index (== frame_number in the payload)
    did: int
    n_events: int
    offset: int  # slice start in the payload pools
    veto: int


@dataclass
class Frame:
    index: int
    ts_us: int
    run: str | None
    dids: dict[int, Message] = field(default_factory=dict)

    @property
    def complete(self) -> bool:
        return len(self.dids) == N_DIGITISERS

    @property
    def rows(self) -> int:
        return max(1, sum(m.n_events for m in self.dids.values()))


@dataclass
class Tape:
    seed: int
    frames: list[Frame]
    runs: list[dict]  # {run_name, from_us, until_us}
    messages: list[Message]  # in sending order

    def landed(self) -> list[Frame]:
        """Frames that must land exactly once (those inside a run)."""
        return [f for f in self.frames if f.run is not None]


def pools(seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Event payload pools; each message is a slice of them."""
    rng = np.random.default_rng([seed, 7])
    times = np.sort(rng.integers(0, 20_000_000, POOL_SIZE)).astype(np.uint32)
    volts = rng.integers(0, 4096, POOL_SIZE).astype(np.uint16)
    chans = rng.integers(0, CHANNELS_PER_DIGITISER, POOL_SIZE).astype(np.uint32)
    return times, volts, chans


def _runs(bounds: list[tuple[int, int | None]], names: list[str]) -> list[dict]:
    """Runs over frame-index intervals [a, b); b None = still open."""
    out = []
    for (a, b), name in zip(bounds, names):
        out.append(
            {
                "run_name": name,
                "from_us": BASE_TS_US + a * FRAME_PERIOD_US - 1000,
                "until_us": None if b is None
                else BASE_TS_US + b * FRAME_PERIOD_US - 1000,
            }
        )
    return out


def _frame_messages(rng, frame: int) -> list[Message]:
    order = rng.permutation(N_DIGITISERS)
    n_ev = rng.poisson(EVENTS_MEAN, N_DIGITISERS)
    offs = rng.integers(0, POOL_SIZE - 4 * EVENTS_MEAN, N_DIGITISERS)
    veto = rng.integers(0, 4, N_DIGITISERS)
    return [
        Message(frame, int(d), int(n_ev[d]), int(offs[d]), int(veto[d]))
        for d in order
    ]


def build(seed: int, seconds: float) -> Tape:
    rng = np.random.default_rng([seed, 1])
    n = LIVE_WARMUP_FRAMES + int(round(seconds / FRAME_PERIOD_S))
    a, b = n // 3, 2 * n // 3
    runs = _runs([(0, a), (a, b), (b, None)], ["live_a", "live_b", "live_c"])
    msgs = [m for i in range(n) for m in _frame_messages(rng, i)]
    frames = [Frame(i, BASE_TS_US + i * FRAME_PERIOD_US, None) for i in range(n)]
    for f in frames:
        for r in runs:
            if r["from_us"] < f.ts_us and (
                r["until_us"] is None or f.ts_us < r["until_us"]
            ):
                f.run = r["run_name"]
    for m in msgs:
        frames[m.frame].dids[m.did] = m
    return Tape(seed, frames, runs, msgs)
