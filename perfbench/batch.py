"""System process for the Spark workload ``trace_reprocess``: read the
trace Parquet, ``daq_chain`` (fixed threshold ``form_events`` ->
``materialize`` -> fused frame assembly, run matching and NeXus build)
and ``write_nexus``, once per repetition.

Set-up is ``get_spark`` plus the Python-UDF warm-up ``bench.py`` does,
run ``SETUPS`` times.  The first one starts the JVM; its session writes
the input with the program's own simulator (``generate_traces``,
``generate_runs``), untimed, and is stopped so that its Python workers
do not count in the workload's memory.  Untimed repetitions fill the
JIT and code-generation caches for ``WARM_S`` seconds, and timed
repetitions follow until the run length is used.

With ``--trace 1`` those repetitions are the untraced baseline.  The
session is then restarted with Spark's event log on, warmed again for
``REWARM_S`` seconds, and the same number of seconds of repetitions runs
with the spans and the forced ``materialize`` barrier.  The figures go
to ``<work>/system.json``, the spans to ``<work>/spans.jsonl``.  Started
by run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import common

SETUPS = 11
# untimed repetitions until this much time has passed: repetition times
# fall for ~5 repetitions while the JIT compiles Catalyst's planning paths
WARM_S = 10.0
# after a session restart the JVM is warm; the Python workers start again
REWARM_S = 3.0

# Input shape.  Per frame, the instrument's 32 digitisers (as in
# live_50fps) x the simulator's 8 channels each x generate_traces' default
# 1000-sample trace.  24 frames make one repetition ~1.6 s on 4 cores, so
# a 20 s run times ~12 of them; generate_runs' default 8-frame runs with
# 2-frame gaps put 4 of the 24 frames outside every run.
FRAMES = 24
FRAMES_PER_RUN = 8
GAP_FRAMES = 2
DIGITISERS = 32
SAMPLES = 1000
ROW_GROUP_BYTES = 1 << 20  # several row groups in the one file
DETECTOR = {"threshold": 300.0, "duration": 2, "cool_off": 0}


def _session(work: str, traced: bool):
    """get_spark on the host's cores, with every file it writes kept
    inside the work directory."""
    from supermusr_data_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        # no /tmp/hsperfdata file: the JVM writes nothing outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        # one plain JSON-lines file per application, read with json
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@F.pandas_udf(T.DoubleType())
def _warm(s: pd.Series) -> pd.Series:
    return s * 1.0


def _warm_udf_runtime(spark) -> None:
    """bench.py's warm-up: Arrow serializers, worker pool, pandas."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 10_000, numPartitions=n).select(
        _warm(F.col("id").cast("double"))
    ).count()


def _cached_after(spark) -> int:
    """Persistent RDDs plus (0/1) cached relations left behind."""
    jrdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    cm = spark._jsparkSession.sharedState().cacheManager()
    return int(jrdds) + (0 if cm.isEmpty() else 1)


def write_input(spark, work: str, seed: int) -> dict:
    """Seeded dat2 traces as one multi-row-group Parquet file, plus the
    runs; returns what the check needs to rebuild the reference."""
    from supermusr_data_pipeline_spark.generator import generate_runs, generate_traces
    from supermusr_data_pipeline_spark.generator.simulator import frames_in_run_count
    from supermusr_data_pipeline_spark.schemas import TRACE_SCHEMA

    traces = generate_traces(
        spark, n_frames=FRAMES, n_digitizers=DIGITISERS, n_samples=SAMPLES, seed=seed
    ).select(*[F.col(f.name).cast(f.dataType) for f in TRACE_SCHEMA.fields])
    path = os.path.join(work, "traces")
    traces.repartition(1).write.option("parquet.block.size", ROW_GROUP_BYTES).parquet(path)
    runs = [r.asDict() for r in generate_runs(
        spark, n_frames=FRAMES, frames_per_run=FRAMES_PER_RUN,
        gap_frames=GAP_FRAMES, seed=seed,
    ).select(
        "run_name", F.unix_micros("collect_from").alias("from_us"),
        F.unix_micros("collect_until").alias("until_us"),
    ).collect()]
    meta = pq.ParquetDataset(path).fragments[0].metadata
    return {
        "traces": path, "runs": runs, "detector": DETECTOR,
        "expected_digitizers": list(range(DIGITISERS)),
        "frames_landed": frames_in_run_count(FRAMES, FRAMES_PER_RUN, GAP_FRAMES),
        "rows": meta.num_rows, "row_groups": meta.num_row_groups,
    }


class TraceReprocess:
    def __init__(self, spark, inp: dict, work: str, tracer: common.Tracer):
        from supermusr_data_pipeline_spark.schemas import RUN_SCHEMA

        self.spark, self.inp, self.work, self.tr = spark, inp, work, tracer
        rows = [{
            "run_name": r["run_name"], "filename": r["run_name"] + ".nxs",
            "instrument_name": "SUPERMUSR",
            "collect_from": pd.Timestamp(r["from_us"], unit="us", tz="UTC"),
            "collect_until": None if r["until_us"] is None
            else pd.Timestamp(r["until_us"], unit="us", tz="UTC"),
            "n_periods": 1,
        } for r in inp["runs"]]
        self.runs = spark.createDataFrame(
            pd.DataFrame(rows, columns=[f.name for f in RUN_SCHEMA.fields]), RUN_SCHEMA
        ).coalesce(1)
        self.events_formed = 0

    def trace_barrier(self) -> None:
        """Force ``form_events`` at daq_chain's own materialize barrier,
        inside a span, and count the events it formed."""
        from supermusr_data_pipeline_spark import materialize as mat

        inner = mat.materialize

        def forced(df, eager=True):
            with self.tr.span("operators.event_formation"):
                out = inner(df, eager=True)
                self.events_formed = out.count()
            return out

        mat.materialize = forced

    def rep(self, name: str) -> dict:
        from supermusr_data_pipeline_spark.operators.nexus_sink import write_nexus
        from supermusr_data_pipeline_spark.plans.daq_chain import daq_chain

        out = os.path.join(self.work, f"nexus_{name}")
        tr = self.tr
        t = time.perf_counter()
        with tr.span("sources.read_parquet"):
            traces = self.spark.read.parquet(self.inp["traces"])
        with tr.span("plans.daq_chain"):
            nexus = daq_chain(
                traces, self.runs, self.inp["expected_digitizers"],
                mode="fixed", **self.inp["detector"],
            )
        with tr.span("operators.nexus_build_write"):
            write_nexus(nexus, out)
        return {"wall_s": time.perf_counter() - t, "out": out,
                "items": self.inp["frames_landed"]}


def _warm_reps(job: TraceReprocess, seconds: float) -> None:
    """Untimed repetitions, at least one, until ``seconds`` have passed."""
    t_end = time.monotonic() + seconds
    job.rep("warm")
    while time.monotonic() < t_end:
        job.rep("warm")


def _timed_reps(job: TraceReprocess, name: str, seconds: float) -> list[dict]:
    reps: list[dict] = []
    t_end = time.monotonic() + seconds
    while not reps or time.monotonic() < t_end:
        job.tr.run_id = len(reps)
        reps.append(job.rep(f"{name}_{len(reps)}"))
    return reps


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    common.use_program()
    tracer = common.Tracer(bool(args.trace))
    res: dict = {"setup_s": []}

    for k in range(SETUPS):
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = _session(args.work, False)
        t1 = time.perf_counter()
        with tracer.span("session.warmup"):
            _warm_udf_runtime(spark)
        t2 = time.perf_counter()
        res["setup_s"].append(t2 - t)
        if k == 0:
            res["session_start_s"], res["session_warmup_s"] = t1 - t, t2 - t1
            t = time.perf_counter()
            inp = write_input(spark, args.work, args.seed)
            res["input_build_s"] = time.perf_counter() - t
        if k < SETUPS - 1:
            spark.stop()

    job = TraceReprocess(spark, inp, args.work, common.Tracer(False))
    _warm_reps(job, WARM_S)
    res["reps"] = _timed_reps(job, "base", args.seconds)
    if tracer.enabled:
        spark.stop()
        spark = _session(args.work, True)
        job = TraceReprocess(spark, inp, args.work, common.Tracer(False))
        job.trace_barrier()
        _warm_reps(job, REWARM_S)
        job.tr = tracer
        t_window = time.time()
        res["traced_reps"] = _timed_reps(job, "traced", args.seconds)
        t_window_end = time.time()
    res["input"] = inp
    res["events_formed"] = job.events_formed
    from supermusr_data_pipeline_spark.plans.text_dedup import clear_shared_cache

    clear_shared_cache()
    res["cached_after"] = _cached_after(spark)
    res["peak_rss_mb"], res["jvm_peak_rss_mb"] = common.peak_rss_mb()
    spark.stop()
    if tracer.enabled:
        res["self_s"] = tracer.self_times()
        res["spans"] = {n: tracer.total(n) for n in {s[1] for s in tracer.spans}}
        res["eventlog"] = common.event_log_metrics(
            os.path.join(args.work, "eventlog"), t_window, t_window_end
        )
        tracer.dump(os.path.join(args.work, "spans.jsonl"))
    with open(os.path.join(args.work, "system.json"), "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
