"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload tweet_trending --seed 1 --seconds 30 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``tweet_trending``: open loop. A generator process writes Kafka-shaped
  tweets on a fixed schedule; Q1 trending hashtag, Q2 tweets per second
  and Q3 running total run concurrently and write time-series points.
- ``keeper_ingest``: closed loop, one client. Each iteration runs the fused
  multimodal ingest-to-training stream and the text keeper dedup stream
  on the sf0.01 ``documents`` fixture the oracle tests read, re-keyed by
  the seed (``perfbench/fixture.py``).

The package runs in this process at ``local[N]``, N = usable CPUs. Every
file the run writes lands under ``.bench_build/perfbench`` in the checkout.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics that both workloads
read from the same instruments, and the run writes its spans, span self
times and every per-layer reading (workload-specific ones too) beside the
Spark event log. Outputs are always checked against the generator's
truth or the registry's DuckDB oracles.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("tweet_trending", "keeper_ingest")


class RssSampler:
    """Peak RSS of this process tree: the sum of each process's own peak.

    Every ``period`` seconds it finds this process's descendants in /proc
    and keeps each one's kernel-tracked peak (``VmHWM``), so a short spike
    between two samples still counts and exited Python workers keep their
    share. Pids in ``exclude`` and their descendants, the tweet generator,
    are left out. Forked Python workers share their parent's pages, so the
    sum is an upper bound.
    """

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.exclude: set[int] = set()
        self._peaks: dict[int, int] = {}
        self._ticks = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak_bytes(self) -> int:
        return sum(self._peaks.values())

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _sample(self) -> None:
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        parents: dict[int, int] = {}
        started: dict[int, float] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        fields = fh.read().rpartition(")")[2].split()
                except OSError:
                    continue
                parents[int(entry)] = int(fields[1])
                started[int(entry)] = int(fields[19]) / self._ticks
        me = os.getpid()
        for pid in parents:
            p = pid
            while p not in (me, 0, 1) and p not in self.exclude:
                p = parents.get(p, 0)
            # A child the JVM forks to run a command shares the JVM's pages
            # until it execs; skipping processes younger than a second keeps
            # that transient copy from being counted twice.
            if p != me or uptime - started[pid] < 1.0:
                continue
            try:
                with open(f"/proc/{pid}/status") as fh:
                    hwm = next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            self._peaks[pid] = max(self._peaks.get(pid, 0), hwm * 1024)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)


class Context:
    """What a workload gets: arguments, its work dir, the session and tracing."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = args.cpus
        self.work = os.path.join(WORK, "run")
        self.trace_dir = os.path.join(WORK, "traces", f"{args.workload}_{args.seed}")
        self.rss = RssSampler()
        self.tracer = None
        self.spark = None
        self.progress: list[dict] = []
        self.ended: list[str] = []

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def start_spark(self, listen: bool = False):
        """Start the session; with ``listen`` or tracing, every streaming
        progress lands in ``progress`` and every ended run id in ``ended``."""
        from spark_streaming_twitter_spark.session import get_spark

        t = time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.get_spark_s = time.time() - t
        if listen or self.tracer is not None:
            from perfbench.trace import make_progress_listener

            self.spark.streams.addListener(make_progress_listener(self.progress, self.ended))
        return self.spark


def prepare_environment(ctx: Context) -> None:
    """Point every temp, spool and spark-local dir into the checkout.

    Must run before pyspark starts its JVM: the JVM and its Python workers
    inherit this environment.
    """
    shutil.rmtree(ctx.work, ignore_errors=True)
    tmp = os.path.join(ctx.work, "tmp")
    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    # With the package's 8g default the driver heap grows as GC timing
    # allows: keeper_ingest peak RSS spread 0.20 (IQR / median over ten
    # seeds), too close to any bound; at 2g it spread 0.07. BASELINES.md
    # has both settings' numbers.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ctx.trace:
        shutil.rmtree(ctx.trace_dir, ignore_errors=True)
        events = os.path.join(ctx.trace_dir, "eventlog")
        os.makedirs(events)
        # zstandard is not installed, so the event log stays uncompressed
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it.

    The JVM exits when its stdin closes; its Python workers follow it.
    """
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=usable_cpus())
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "spark_streaming_twitter_spark")):
        print("perfbench: package spark_streaming_twitter_spark not found", file=sys.stderr)
        return 2

    ctx = Context(args)
    prepare_environment(ctx)
    ctx.rss.start()
    if ctx.trace:
        from perfbench.trace import Tracer

        ctx.tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{int(PROCESS_START)}")
    if args.workload == "tweet_trending":
        from perfbench import tweet_trending as workload
    else:
        from perfbench import keeper_ingest as workload
    try:
        result = workload.run(ctx, PROCESS_START)
    finally:
        stop_spark(ctx.spark)
        ctx.rss.stop()
    result.e2e["peak_rss_mb"] = ctx.rss.peak_bytes / 2**20

    for line in result.report:
        print(f"# {args.workload}: {line}")
    attempted, failed = result.attempted, result.failed
    print(
        f"# {args.workload}: error_rate={failed / attempted:.6f} "
        f"({failed} failed of {attempted} attempted)"
    )
    if ctx.trace:
        from perfbench.trace import trace_layers

        layers = trace_layers(ctx, *result.window, per=result.per)
        layers.update({f"traced.{k}": v for k, v in result.e2e.items()})
        metrics = {name: layers[name] for name in metric_names("per_layer")}
        for name, value in sorted(result.extra.items()):
            print(f"# {args.workload}: layer {name}={value:.6g}")
        with open(os.path.join(ctx.trace_dir, "layers.json"), "w") as fh:
            json.dump({**layers, **result.extra}, fh, indent=1, sort_keys=True)
    else:
        metrics = {name: result.e2e[name] for name in metric_names("end_to_end")}
    units = metric_units()
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0 if failed == 0 else 1


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def metric_names(kind: str) -> list[str]:
    return [m["name"] for m in _benchmark_spec()[kind]]


def metric_units() -> dict[str, str]:
    spec = _benchmark_spec()
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
