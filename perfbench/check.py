"""Correctness checks, run by the harness after the timed region.

* Door sinks: per-run exactly-once accounting against the tape — every
  frame that must land lands once, in its run, with its row count and
  completeness, and each run's ``frame_seq`` is exactly 0..n-1.
* ``trace_reprocess``: per-run row counts and an order-independent
  content hash of the NeXus table, against a reference built with the
  numpy detector (``operators.pulse_detection``) and no Spark.

Each check returns (attempted, failed, figures).
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common


def _run_dirs(path: str):
    for d in sorted(glob.glob(os.path.join(path, "run_name=*"))):
        yield os.path.basename(d)[len("run_name="):], d


def door_sink(path: str, expected) -> tuple[int, int, dict]:
    """``expected``: the tape frames that must land (tape.Frame)."""
    want = {f.index: f for f in expected}
    rows: dict[int, int] = {}
    seqs: dict[int, set] = {}
    where: dict[int, set] = {}
    complete: dict[int, set] = {}
    run_seqs: dict[str, set] = {}
    n_rows = 0
    for run, d in _run_dirs(path):
        for f in glob.glob(os.path.join(d, "*.parquet")):
            t = pq.read_table(f, columns=["frame_number", "frame_seq", "frame_complete"])
            n_rows += t.num_rows
            fn = t.column(0).to_numpy()
            sq = t.column(1).to_numpy()
            cp = t.column(2).to_numpy(zero_copy_only=False)
            u, idx, cnt = np.unique(fn, return_index=True, return_counts=True)
            for k, i, c in zip(u.tolist(), idx.tolist(), cnt.tolist()):
                rows[k] = rows.get(k, 0) + c
                where.setdefault(k, set()).add(run)
                complete.setdefault(k, set()).add(bool(cp[i]))
            for k, s in set(zip(fn.tolist(), sq.tolist())):
                seqs.setdefault(k, set()).add(s)
                run_seqs.setdefault(run, set()).add(s)
    failed = 0
    for k, f in want.items():
        ok = (
            rows.get(k) == f.rows
            and where.get(k) == {f.run}
            and len(seqs.get(k, ())) == 1
            and complete.get(k) == {f.complete}
        )
        failed += not ok
    failed += len(set(rows) - set(want))  # landed but must not have
    per_run: dict[str, int] = {}
    for f in want.values():
        per_run[f.run] = per_run.get(f.run, 0) + 1
    for run in set(per_run) | set(run_seqs):
        failed += len(run_seqs.get(run, set()) ^ set(range(per_run.get(run, 0))))
    figures = {
        "frames_landed": len(rows),
        "rows_landed": n_rows,
        "frames_incomplete": sum(1 for k, v in complete.items() if False in v),
    }
    return len(want), failed, figures


# ---- trace_reprocess ----

_NEXUS_COLS = [
    "frame_seq", "event_time_zero", "event_index", "period_number",
    "frame_number", "frame_complete", "running", "veto_flags",
    "event_time_offset", "event_id", "pulse_height",
]


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 (wrapping arithmetic)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def table_hash(cols: dict[str, np.ndarray], run: str) -> int:
    """Order-independent hash of one run's rows: the wrapping sum of a
    per-row hash over every NeXus column plus the run name."""
    with np.errstate(over="ignore"):
        n = len(cols["frame_seq"])
        h = np.full(n, int(hashlib.md5(run.encode()).hexdigest()[:15], 16),
                    dtype=np.uint64)
        for c in _NEXUS_COLS:
            v = cols[c]
            if v.dtype.kind == "f":
                v = v.astype(np.float64).view(np.uint64)
            else:
                v = v.astype(np.int64).view(np.uint64)
            h = _mix(h ^ v)
        return int(h.sum(dtype=np.uint64))


def read_nexus(path: str) -> dict[str, tuple[int, int]]:
    """run -> (rows, hash) of a run-partitioned NeXus output."""
    out = {}
    for run, d in _run_dirs(path):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        t = pa.concat_tables([pq.read_table(f, columns=_NEXUS_COLS) for f in files])
        cols = {c: t.column(c).to_numpy(zero_copy_only=False) for c in _NEXUS_COLS}
        out[run] = (t.num_rows, table_hash(cols, run))
    return out


def trace_reference(inputs: dict) -> dict[str, tuple[int, int]]:
    """The NeXus table daq_chain must produce, computed without Spark:
    the numpy fixed-threshold detector per trace, then frame assembly,
    run matching, frame_seq / event_index / event_time_zero."""
    common.use_program()
    from supermusr_data_pipeline_spark.operators.pulse_detection import (
        find_fixed_threshold_events,
    )

    p = inputs["detector"]
    t = pq.read_table(inputs["traces"])
    meta = {c: t.column(c).to_pylist() for c in (
        "digitizer_id", "period_number", "running", "frame_number",
        "veto_flags", "channel", "sample_rate")}
    ts = t.column("ts").cast(pa.int64()).to_numpy()
    volts = t.column("voltage").to_pylist()
    frames: dict[tuple, dict] = {}
    for i, v in enumerate(volts):
        et, eh = find_fixed_threshold_events(
            np.asarray(v, dtype=np.float64), 1e9 / meta["sample_rate"][i],
            threshold=p["threshold"], duration=p["duration"], cool_off=p["cool_off"],
        )
        if len(et) == 0:
            continue
        key = (int(ts[i]), meta["period_number"][i], meta["frame_number"][i],
               meta["running"][i])
        fr = frames.setdefault(key, {"dids": set(), "veto": 0, "t": [], "h": [], "ch": []})
        fr["dids"].add(meta["digitizer_id"][i])
        fr["veto"] |= meta["veto_flags"][i]
        fr["t"].append(et)
        fr["h"].append(eh)
        fr["ch"].append(np.full(len(et), meta["channel"][i]))
    expected = set(inputs["expected_digitizers"])
    out = {}
    for run in inputs["runs"]:
        lo, hi = run["from_us"], run["until_us"]
        keys = sorted(
            (k for k in frames if lo < k[0] and (hi is None or k[0] < hi)),
            key=lambda k: (k[0], k[2]),
        )
        if not keys:
            continue
        cols: dict[str, list] = {c: [] for c in _NEXUS_COLS}
        index = 0
        for seq, k in enumerate(keys):
            fr = frames[k]
            n = sum(len(x) for x in fr["t"])
            const = {
                "frame_seq": seq, "event_time_zero": (k[0] - lo) * 1000,
                "event_index": index, "period_number": k[1], "frame_number": k[2],
                "frame_complete": fr["dids"] == expected, "running": k[3],
                "veto_flags": fr["veto"],
            }
            for c, val in const.items():
                cols[c].append(np.full(n, val, dtype=np.int64))
            cols["event_time_offset"].append(np.concatenate(fr["t"]).astype(np.int64))
            cols["event_id"].append(np.concatenate(fr["ch"]).astype(np.int64))
            cols["pulse_height"].append(np.concatenate(fr["h"]).astype(np.float64))
            index += n
        arr = {c: np.concatenate(v) for c, v in cols.items()}
        out[run["run_name"]] = (len(arr["frame_seq"]), table_hash(arr, run["run_name"]))
    return out


def nexus_outputs(paths: list[str], reference: dict) -> tuple[int, int, dict]:
    """Each repetition's output is one attempt per run."""
    attempted = failed = 0
    for path in paths:
        got = read_nexus(path)
        for run in set(reference) | set(got):
            attempted += 1
            failed += got.get(run) != reference.get(run)
    return attempted, failed, {}
