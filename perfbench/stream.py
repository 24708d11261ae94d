"""The ``stream_upsert_join`` workload: ``stream_join_versioned(how=
"full_outer")`` over a seeded two-sided upsert log, drained with an
``availableNow`` trigger at one parquet file per side per micro-batch.

A drain is the closed loop's unit: the next micro-batch starts only
after the last one committed. The sink collects every micro-batch's
changelog to the driver (the collecting sink of
``streaming.harness.collect_emissions``), so each timed drain can be
checked afterwards: its converged result (``harness.converged``) must
equal batch ``operators.joins.join_full_outer`` on the same log.
"""

from __future__ import annotations

import json
import math
import os
import statistics
from datetime import datetime

import pandas as pd

from flink_join_scaling_spark.operators.joins import join_full_outer
from flink_join_scaling_spark.streaming.harness import converged
from flink_join_scaling_spark.streaming.joins import stream_join_versioned
from perfbench import datagen
from perfbench.checks import batch_pairs, stream_pairs
from perfbench.trace import attribute_jobs, layer_counters, total

KEYS = 600
RECORDS_PER_BATCH = 1600
BATCHES = 3
#: micro-batches of the log's head, drained to warm up and, in the
#: traced run, at local[1]
HEAD_BATCHES = 1
#: fewest timed drains in a run
DRAINS = 3
SCHEMA = "id long, k long, ts long, v long"


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _median(progress: list[dict], *keys: str) -> float:
    return statistics.median(sum(p["durationMs"].get(k, 0) for k in keys) for p in progress)


class Stream:
    def __init__(self, run) -> None:
        self.run = run
        self.drains: list[dict] = []
        self.started = 0
        self._expected = None

    def prepare(self) -> None:
        run = self.run
        with run.tracer.span("datagen"):
            self.log = datagen.stream_log(run.seed, BATCHES, KEYS, RECORDS_PER_BATCH)
            self.dirs = datagen.write_stream_log(self.log, os.path.join(run.work, "log"))
            head = {s: pdf[pdf["batch"] < HEAD_BATCHES] for s, pdf in self.log.items()}
            self.head_dirs = datagen.write_stream_log(head, os.path.join(run.work, "head"))
        self.records = sum(len(p) for p in self.log.values())

    def drain(self, spark, dirs: dict, tag: str) -> dict:
        sx, sy = (
            spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(dirs[s])
            for s in (0, 1)
        )
        out = stream_join_versioned(sx, sy, "k", "k", "id", "id", "ts", "ts", how="full_outer")
        emitted: list[pd.DataFrame] = []

        def sink(batch_df, batch_id: int) -> None:
            pdf = batch_df.toPandas()
            pdf["_batch_id"] = batch_id
            emitted.append(pdf)

        tr = self.run.tracer
        # a fresh checkpoint per drain: every drain reads the whole log
        ckpt = os.path.join(self.run.work, "ckpt", f"{self.started}-{tag}")
        self.started += 1
        with tr.span("drain", tag=tag) as ds:
            q = (
                out.writeStream.foreachBatch(sink)
                .outputMode("update")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.awaitTermination()
        progress = [json.loads(p.json) for p in q.recentProgress]
        batches = []
        for p in progress:
            start = _epoch(p["timestamp"])
            b = tr.add("microbatch", start, start + p["durationMs"]["triggerExecution"] / 1000,
                       parent=ds["id"], batch=p["batchId"])
            batches.append(b["id"])
        return {
            "wall": ds["end"] - ds["start"],
            "ops": [p["durationMs"]["triggerExecution"] / 1000 for p in progress],
            "inputs": sum(p["numInputRows"] for p in progress),
            "emissions": pd.concat(emitted, ignore_index=True) if emitted else pd.DataFrame(),
            "progress": progress,
            "batches": batches,
        }

    def expected(self, spark) -> list[tuple]:
        if self._expected is None:
            x, y = (
                spark.createDataFrame(self.log[s].drop(columns="batch"), SCHEMA)
                for s in (0, 1)
            )
            joined = join_full_outer(x, y, "k", "k", "id", "id", "ts", "ts")
            self._expected = batch_pairs(joined.toPandas())
        return self._expected

    def warmup(self, spark) -> None:
        """Untimed, unchecked drain of the log's head: compiles the
        stateful plan and starts its Python workers on a micro-batch
        of the timed size before the timed drains."""
        self.warm_wall = self.drain(spark, self.head_dirs, "warmup")["wall"]

    def measure(self, spark, seconds: float, tag: str = "d", drains: int = DRAINS) -> dict:
        """Closed loop of ``drains`` whole drains, or of as many as fit
        in ``seconds`` at the warm-up drain's time per micro-batch if
        that is more; the count is fixed before timing starts. Each
        drain's output is checked after the loop. ``pass_s`` is the sum
        over the log's micro-batches of each one's median
        ``triggerExecution`` time over the drains."""
        timed = []
        per_drain = self.warm_wall * BATCHES / HEAD_BATCHES
        for i in range(max(drains, math.ceil(seconds / per_drain))):
            try:
                timed.append(self.drain(spark, self.dirs, f"{tag}{i}"))
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                self.run.error("drain", exc)
                self.run.count(False, BATCHES)
        for d in timed:
            self.check(spark, d)
        self.drains = timed
        if not timed:
            raise RuntimeError("every timed drain failed")
        return {
            "pass_s": sum(statistics.median(ts) for ts in zip(*(d["ops"] for d in timed))),
            "ops_s": {f"batch{i}#{j}": o for j, d in enumerate(timed) for i, o in enumerate(d["ops"])},
        }

    def check(self, spark, d: dict) -> None:
        ok = d["inputs"] == self.records
        if not ok:
            self.run.error("drain", f"read {d['inputs']} of {self.records} records")
        elif stream_pairs(converged(d["emissions"], ["k"])) != self.expected(spark):
            ok = False
            self.run.error("drain", "converged stream result != batch join_full_outer")
        self.run.count(ok, len(d["ops"]))

    def traced(self, ref: dict) -> dict:
        """The per-layer part of a traced run, after the untraced timed
        drain ``ref``: a ``local[1]`` session drains the log's first
        ``HEAD_BATCHES`` micro-batches (the single-threaded baseline);
        then a session with the event log on repeats the warm-up and one
        timed drain. The other metrics come from that drain's jobs in
        the event log and its progress records."""
        run = self.run
        head = self.drain(run.start_session(cores=1), self.head_dirs, "cores1")
        self.warmup(run.start_session(traced=True))
        res = self.measure(run.spark, 0, tag="t", drains=1)
        td = self.drains[0]
        events = run.stop_traced()
        stats = attribute_jobs(events, run.tracer.spans)
        mb = total(stats, td["batches"])
        prog = td["progress"]
        last_state = prog[-1]["stateOperators"][0]
        updates = sum(p["stateOperators"][0]["numRowsUpdated"] for p in prog)
        m = {
            "action.run_s": sum(td["ops"]),
            "action.jobs": mb["jobs"],
            "action.stages": mb["stages"],
            "action.tasks": mb["tasks"],
            "stream.add_batch_ms": _median(prog, "addBatch"),
            "stream.plan_ms": _median(prog, "queryPlanning"),
            "stream.commit_ms": _median(prog, "walCommit", "commitOffsets"),
            "stream.state_rows": last_state["numRowsTotal"],
            "stream.state_bytes": last_state["memoryUsedBytes"],
            "stream.state_commit_ms": statistics.median(
                p["stateOperators"][0]["commitTimeMs"] for p in prog
            ),
            "stream.state_updates": updates,
            "stream.useful_update_ratio": updates / td["inputs"],
            "stream.emit_per_input": len(td["emissions"]) / td["inputs"],
            "scale.cores1_rows_per_s": head["inputs"] / head["wall"],
            "trace.overhead_frac": res["pass_s"] / ref["pass_s"],
        }
        m.update(layer_counters(mb, td["wall"], run.cores))
        return m
