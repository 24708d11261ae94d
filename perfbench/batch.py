"""The ``llm_dedup`` workload: a closed loop, one client, over a mix of
build-phase-heavy dedup queries.

Each query is timed in two parts through public engine calls: the build
(``plans.QUERIES[name].fn(spark, sf_dir)``, where the engine's eager
pins, ``count()``/``collect()`` gates and driver replays run) and the
action (a ``noop`` write, as in ``bench.py``). After each query, outside
the timed region, its output is collected and checked against the
stored digest, and the persistent RDDs it left behind are released the
way ``bench.py`` does it; their count is ``partitioning.leaked_pins``.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics

from flink_join_scaling_spark import plans
from perfbench import datagen
from perfbench.checks import digest
from perfbench.trace import attribute_jobs, layer_counters, total

MIX = (
    "q_dedup_canonical_rank",
    "q_pipeline_media",
)
SF = 0.01
#: second scale point of the traced run, for ``scale.fixed_share``
SCALE_SF = 0.001
#: fewest timed passes in a run
PASSES = 2

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def sf_dir(work: str, sf: float) -> str:
    return os.path.join(work, f"sf{sf}")


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)["llm_dedup"]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release_pins(spark) -> int:
    """``bench.py``'s sweep: unpersist every persistent RDD (the
    ``localCheckpoint`` pins a query leaves behind) and return how many
    it found. ``_jsc`` is py4j-private: PySpark has no public listing of
    persistent RDDs. Runs strictly after the query's action."""
    jsc = spark.sparkContext._jsc
    rdds = list(jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(False)
    return len(rdds)


class Mix:
    def __init__(self, run) -> None:
        self.run = run
        self.rng = random.Random(run.seed)
        self.expected = load_expected()
        self.passes: list[dict] = []

    def order(self) -> list[str]:
        return self.rng.sample(MIX, len(MIX))

    def prepare(self) -> None:
        with self.run.tracer.span("datagen"):
            for sf in (SF, SCALE_SF) if self.run.args.trace else (SF,):
                datagen.write_corpus(sf_dir(self.run.work, sf), sf)

    def warmup(self, spark) -> None:
        """Untimed, unchecked pass over the timed corpus: compiles every
        query's plans and starts its Python workers on the code paths of
        the timed passes. It runs the mix in ``MIX`` order for every
        seed. Warmed up in the seed's order, runs depended on the seed:
        in nine runs on a 4-vCPU VM, those that began with
        ``q_pipeline_media`` timed a median ``pass_s`` of 8.2 s, the
        others 6.7 s."""
        self.warm_wall = self.timed_pass(spark, SF, "warmup", list(MIX), check=False)["wall"]

    def check(self, name: str, df) -> bool:
        """Collect ``df`` and compare its digest with the stored one."""
        got = digest(df.toPandas())
        if got != self.expected[name]["digest"]:
            self.run.error(name, f"digest {got} != expected {self.expected[name]['digest']}")
            return False
        return True

    def timed_pass(self, spark, sf: float, tag: str, order: list[str], check: bool) -> dict:
        """One pass over ``order``; records each query's build and action
        span ids (``rec["spans"]``) and wall times (``rec["ops"]``). The
        output check and the pin release run after each query's span.
        A query counts as an operation when its output is checked or it
        failed."""
        sc = spark.sparkContext
        d = sf_dir(self.run.work, sf)
        tr = self.run.tracer
        rec = {"order": order, "ops": [], "leaked": 0, "spans": {}}
        with tr.span("pass", tag=tag):
            for name in order:
                ids = rec["spans"][name] = {}
                ok, df = True, None
                with tr.span("query", query=name) as qs:
                    try:
                        for phase in ("build", "action"):
                            g = f"{tag}:{name}:{phase}"
                            with tr.span(phase, query=name, group=g) as ph:
                                ids[phase] = ph["id"]
                                sc.setJobGroup(g, name)
                                if phase == "build":
                                    df = plans.QUERIES[name].fn(spark, d)
                                else:
                                    force(df)
                    except Exception as exc:  # noqa: BLE001 - counted as a failure
                        ok = False
                        self.run.error(name, exc)
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["ops"].append(qs["end"] - qs["start"])
                if ok and check:
                    try:
                        ok = self.check(name, df)
                    except Exception as exc:  # noqa: BLE001
                        ok = False
                        self.run.error(name, exc)
                rec["leaked"] += release_pins(spark)
                if check or not ok:
                    self.run.count(ok)
        rec["wall"] = sum(rec["ops"])
        return rec

    def measure(self, spark, seconds: float, tag: str = "p", passes: int = PASSES) -> dict:
        """Closed loop of ``passes`` whole passes in orders drawn from
        the seed, or of as many as the warm-up pass fits in ``seconds``
        if that is more; the count is fixed before timing starts, so a
        run's estimator does not depend on how fast it went. Only the
        first pass's outputs are checked: every pass runs the same
        queries on the same corpus. ``pass_s`` is the sum over the mix
        of each query's median time over the passes."""
        self.passes = []
        for i in range(max(passes, math.ceil(seconds / self.warm_wall))):
            self.passes.append(
                self.timed_pass(spark, SF, f"{tag}{i}", self.order(), check=i == 0)
            )
        times: dict[str, list[float]] = {}
        for p in self.passes:
            for name, t in zip(p["order"], p["ops"]):
                times.setdefault(name, []).append(t)
        ops = {f"{p['order'][i]}#{j}": o for j, p in enumerate(self.passes)
               for i, o in enumerate(p["ops"])}
        return {"pass_s": sum(statistics.median(t) for t in times.values()), "ops_s": ops}

    def traced(self, ref: dict) -> dict:
        """The per-layer part of a traced run, after the untraced timed
        pass ``ref``. Still untraced, one pass in the first pass's order
        at ``SCALE_SF``, over ``ref``, is ``scale.fixed_share``; it runs
        after the pass at ``SF``, so what remains of the JIT's warm-up
        biases it down a little. Then a session with the event log on
        repeats the warm-up and one timed pass; the other metrics come
        from that pass's jobs in the event log."""
        run = self.run
        small = self.timed_pass(run.spark, SCALE_SF, "scale", self.passes[0]["order"], check=False)
        spark = run.start_session(traced=True)
        self.warmup(spark)
        res = self.measure(spark, 0, tag="t", passes=1)
        tp = self.passes[0]
        events = run.stop_traced()
        spans = run.tracer.spans
        group_of = {s["group"]: s["id"] for s in spans if "group" in s}
        stats = attribute_jobs(events, spans, group_of)
        dur = {s["id"]: s["end"] - s["start"] for s in spans if s["end"] is not None}
        phase_ids = {
            ph: [ids[ph] for ids in tp["spans"].values() if ph in ids]
            for ph in ("build", "action")
        }
        build, action = (total(stats, phase_ids[ph]) for ph in ("build", "action"))
        build_s, action_s = (sum(dur[i] for i in phase_ids[ph]) for ph in ("build", "action"))
        m = {
            "plans.build_s": build_s,
            "plans.build_jobs": build["jobs"],
            "plans.build_share": build_s / (build_s + action_s),
            "action.run_s": action_s,
            "action.jobs": action["jobs"],
            "action.stages": action["stages"],
            "action.tasks": action["tasks"],
            "partitioning.leaked_pins": tp["leaked"],
            "scale.fixed_share": small["wall"] / ref["pass_s"],
            "trace.overhead_frac": res["pass_s"] / ref["pass_s"],
        }
        m.update(layer_counters(
            total(stats, phase_ids["build"] + phase_ids["action"]), tp["wall"], run.cores
        ))
        for name, ids in tp["spans"].items():
            m[f"q.{name}.build_s"] = dur[ids["build"]] if "build" in ids else 0.0
            m[f"q.{name}.action_s"] = dur[ids["action"]] if "action" in ids else 0.0
            m[f"q.{name}.jobs"] = total(stats, ids.values())["jobs"]
        return m
