"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload kpi_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_runs/`` (removed again at exit); the engine reads only those
files. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds the details (percentile labels, sample counts, input sizes, hot-key
shares, per-kind read latencies). The exit code is non-zero, with no
result line, when the engine cannot be imported or set-up fails.

End-to-end metrics, the same names on every workload:

* ``setup_s``: session start, input generation (median of repeats),
  load-time builds and warm-up: everything before the timed region.
* ``latency_p50_ms`` / ``latency_tail_ms``: the workload's user-facing
  operation, one ``run_batch_pipeline`` call on kpi_batch and one point
  get on serving_reads. The tail is the highest percentile with ten
  samples above it (the maximum when there are ten or fewer samples).
  A ten-second kpi_batch run holds a single call, so there p50 and tail
  are that one sample; the detail line gives ``latency_samples``.
* ``throughput_per_s``: input events per second on kpi_batch, completed
  requests of every kind per second on serving_reads.
* ``peak_rss_mb``: peak resident memory of the driver JVM plus its Python
  workers during the timed region.

A traced run (``--trace 1``) prints the per-layer metrics instead: span
self times and counts per traced operation, the Spark jobs, tasks and
failed tasks of each layer, and ``trace.overhead_ms``, the traced
operation's time minus the untraced one's. On kpi_batch it can be
negative, because the traced path caches the serving items its
untraced twin computes twice. A traced run ends with a side pass over
the layers neither timed path reaches (incremental ingest on kpi_batch,
LLM corpus preparation on serving_reads; see ``workloads.py``); a layer
a run does not reach reads 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: seconds between two memory samples of the process tree
RSS_SAMPLE_INTERVAL_S = 0.1


class PeakRss:
    """Samples the resident memory of a process tree (the driver JVM and
    its Python workers) on a thread; :meth:`stop` returns the peak in MB.
    Each process counts its proportional set size, so pages the forked
    Python workers share are counted once, not once per worker."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    @staticmethod
    def rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(map(self.rss_kb, self.tree())))
            self._stop.wait(RSS_SAMPLE_INTERVAL_S)

    @staticmethod
    def cpu_times() -> tuple[int, int]:
        """(steal, total) jiffies of all CPUs since boot."""
        with open("/proc/stat", encoding="utf-8") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
        return fields[7], sum(fields[:8])

    def start(self) -> None:
        self.peak_kb = 0
        self._cpu0 = self.cpu_times()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        steal, total = (b - a for a, b in zip(self._cpu0, self.cpu_times()))
        #: share of CPU time the hypervisor gave to other guests meanwhile
        self.steal_share = steal / total if total else 0.0
        return self.peak_kb / 1024.0


def start_session(work: str):
    """``local[nproc]`` session with nproc shuffle partitions and a 2 GiB
    driver heap, committed up front (a heap that grows during the run
    makes per-call times swing with the resize points); every scratch
    path points inside ``work``."""
    from music_streaming_etl_glue_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, tree: list[int]) -> None:
    """Stop Spark, then wait until the JVM and its workers have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in tree if p != os.getpid()):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".perfbench_runs")
    work = os.path.join(runs, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # the JVM that assembles the driver command would otherwise keep its
    # performance-counter file under /tmp, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    spark, tree, code = None, [], 1
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = PeakRss(int(jvm_pid))
        ctx = workloads.Context(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            session_s=session_s,
            tracer=workloads.Tracer(spark.sparkContext) if args.trace else None)
        outcome = workloads.WORKLOADS[args.workload](ctx, rss)
        tree = rss.tree()
        outcome.detail["cpu_steal_share"] = rss.steal_share
        if args.trace:
            metrics = workloads.per_layer_metrics(
                ctx.tracer, outcome.metrics, outcome.traced_ops)
            os.makedirs(runs, exist_ok=True)
            ctx.tracer.dump(os.path.join(
                runs, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = outcome.metrics
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "trace": args.trace, "detail": outcome.detail}))
        print(json.dumps({
            "correct": outcome.failed == 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        code = 0
    except Exception:  # noqa: BLE001 — report, exit non-zero, no result line
        workloads.report_failure("benchmark run")
    finally:
        if spark is not None:
            stop_session(spark, tree)
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
