"""Benchmark of the flink_join_scaling_spark engine.

    python3 perfbench/run.py --workload {llm_dedup,stream_upsert_join}
        --seed N --seconds S --trace {0,1}

The benchmark generates its inputs from the seed under ``.perfbench/``
at the repository root, starts ``local[nproc]`` with shuffle partitions
= cores and 8m file splits (the ``bench.py`` settings), runs one warm-up
job, then a closed loop (one client) of whole passes or drains for
``--seconds`` (at least a fixed number of them). Outputs are checked
outside the timed region. The first stdout line gives the environment;
the last is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``: after the untraced run, a second
session with Spark's event log on warms up and repeats the timed pass
or drain). The line before it
carries per-operation times, the tail, peak RSS and errors. Spans of a
traced run are written to ``.perfbench/trace-<workload>-<seed>.jsonl``.
Metric names and units come from ``BENCHMARK.json``. See README.md.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("llm_dedup", "stream_upsert_join")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def child_pids() -> list[int]:
    """Direct children of this process (the driver JVM)."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[1]) == me:
                out.append(int(d))
    return out


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def wait_exit(pid: int, timeout: float = 30.0) -> None:
    """SIGTERM a child, wait for it, SIGKILL it if it outlives ``timeout``."""
    try:
        os.kill(pid, signal.SIGTERM)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            if os.waitpid(pid, os.WNOHANG)[0] == pid:
                return
        except ChildProcessError:
            return
        time.sleep(0.1)
    os.kill(pid, signal.SIGKILL)
    os.waitpid(pid, 0)


class Run:
    """State of one benchmark process: seed, scratch dir, spans,
    operation counts and the current Spark session."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        from perfbench.trace import Tracer

        self.args = args
        self.seed = args.seed
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.evdir = os.path.join(work, "eventlog")

    def error(self, what: str, exc) -> None:
        """Record a failed operation's reason (an exception or a message)."""
        msg = f"{what}: {type(exc).__name__}: {exc}" if isinstance(exc, Exception) else f"{what}: {exc}"
        self.errors.append(msg[:400])
        print(f"perfbench error: {msg[:2000]}", file=sys.stderr)

    def count(self, ok: bool, n: int = 1) -> None:
        self.attempted += n
        self.failed += 0 if ok else n

    def start_session(self, traced: bool = False, cores: int | None = None):
        """(Re)start the Spark session; the event log is on when ``traced``."""
        from flink_join_scaling_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        cores = cores or self.cores
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
        }
        if traced:
            os.makedirs(self.evdir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.evdir}",
                "spark.eventLog.logBlockUpdates.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("session", traced=traced, cores=cores):
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                cpus=cores,
                shuffle_partitions=cores,
                max_partition_bytes="8m",
                extra_conf=conf,
            )
        with self.tracer.span("first_job"):
            first_job(self.spark, cores, os.path.join(self.work, f"first-{len(self.tracer.spans)}"))
        return self.spark

    def stop_traced(self) -> list[dict]:
        """Stop the traced session and return its event log."""
        from perfbench.trace import read_event_log

        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return read_event_log(os.path.join(self.evdir, app))

    def shutdown(self) -> None:
        """Stop the session and the driver JVM, and wait for it to exit."""
        pids = child_pids()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        for pid in pids:
            wait_exit(pid)

    def first(self, name: str) -> dict:
        return next(s for s in self.tracer.spans if s["name"] == name)


def first_job(spark, cores: int, path: str) -> None:
    """The session's first job: a parquet write and read-back, the path
    both workloads share. Each workload then warms its own queries and
    Python workers with an untimed pass or drain."""
    spark.range(0, 1000, 1, cores).write.parquet(path)
    spark.read.parquet(path).count()


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least 10 samples beyond it, and its value;
    (None, None) when there are 10 samples or fewer."""
    n = len(samples)
    if n <= 10:
        return None, None
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    args = parse_args(argv)
    # import from the root, not from this script's directory
    sys.path[0] = ROOT
    # the engine import comes first: without the engine this raises
    # before anything is printed
    import pyspark

    import flink_join_scaling_spark  # noqa: F401
    from perfbench import batch, stream

    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine and this package from the root;
    # all scratch (shuffle, spill, temp files) stays under the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    local_dir = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local_dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")

    run = Run(args, work)
    wl = (batch.Mix if args.workload == "llm_dedup" else stream.Stream)(run)
    try:
        wl.prepare()
        spark = run.start_session()
        env = {
            "cores": run.cores,
            "spark.local.dir": local_dir,
            "pyspark": pyspark.__version__,
            "sf": batch.SF if args.workload == "llm_dedup" else None,
            "seed": args.seed,
            "workload": args.workload,
        }
        print(json.dumps({"env": env}), flush=True)
        wl.warmup(spark)
        setup_s = time.time() - T0
        res = wl.measure(spark, 0 if args.trace else args.seconds)
        rss_mb = (vm_hwm_kb("self") + sum(vm_hwm_kb(p) for p in child_pids())) / 1024
        if args.trace:
            m = {
                "session.start_s": dur(run.first("session")),
                "session.first_job_s": dur(run.first("first_job")),
                "driver.peak_rss_mb": rss_mb,
                **wl.traced(res),
            }
            units = metric_units("per_layer")
            values = {k: float(m.get(k, 0.0)) for k in units}
            run.tracer.write(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            units = metric_units("end_to_end")
            values = {"setup_s": setup_s, "pass_s": res["pass_s"]}
        ops_ms = [o * 1000 for o in res["ops_s"].values()]
        pct, tail_ms = tail(ops_ms)
        detail = {
            "op_ms": {k: v * 1000 for k, v in res["ops_s"].items()},
            "op_ms.p50": statistics.median(ops_ms),
            "op_ms.tail": {"percentile": pct, "value": tail_ms, "samples": len(ops_ms)},
            "peak_rss_mb": rss_mb,
            "errors": run.errors,
        }
        if args.workload == "stream_upsert_join":
            detail["stream_rows_per_s"] = wl.records / res["pass_s"]
        print(json.dumps({"detail": detail}), flush=True)
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
