"""collector_spark benchmark: one named workload, seeded inputs, checked
outputs, end-to-end metrics (``--trace 0``) or per-layer metrics
(``--trace 1``).

    python3 perfbench/run.py --workload tick_stream --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before
it is a readable summary (with ``failed_ratio`` and any reason the run
is invalid). The exit code is nonzero when an output check failed.
Everything the run writes lives in one temporary directory under the
repository root, removed at exit; a traced run also leaves its spans in
``.perfbench-out/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # set-up is measured from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def catalogue() -> dict[str, dict[str, str]]:
    """{"end_to_end" | "per_layer": {metric name: unit}} from BENCHMARK.json,
    the one list of the benchmark's metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in bench[kind]} for kind in ("end_to_end", "per_layer")}


def weighted_quantile(samples: list[tuple[float, int]], q: float) -> float:
    """Quantile of values each carrying a weight (lines per sample)."""
    samples = sorted(samples)
    total = sum(w for _, w in samples)
    acc = 0
    for value, w in samples:
        acc += w
        if acc >= q * total:
            return value
    raise ValueError("no samples")


def busy_processes(window: float = 0.5, threshold: float = 0.5) -> list[str]:
    """Other processes using more than ``threshold`` of a CPU right now."""

    def snapshot() -> dict[int, tuple[str, int]]:
        out = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == os.getpid():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm = stat[stat.index("(") + 1 : stat.rindex(")")]
            fields = stat[stat.rindex(")") + 2 :].split()
            out[int(pid)] = (comm, int(fields[11]) + int(fields[12]))
        return out

    before = snapshot()
    time.sleep(window)
    after = snapshot()
    hz = os.sysconf("SC_CLK_TCK")
    busy = []
    for pid, (comm, ticks) in after.items():
        if pid in before:
            share = (ticks - before[pid][1]) / hz / window
            if share > threshold:
                busy.append(f"{comm}[{pid}] at {share:.0%} CPU")
    return busy


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus its descendants (the
    Python daemon and workers)."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(pid))
    total_kb, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def cpu_times() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def harden_env(tmp: str) -> None:
    """Settings the library needs to run from any working directory and
    keep within this host and the run's temp dir."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )  # pandas UDF workers import collector_spark
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2048, mem_mb // 4)}m"


class Session:
    """The SparkSession of the run; ``close`` stops the JVM and waits
    for it to exit."""

    def __init__(self, tmp: str):
        self.conf = {"spark.ui.showConsoleProgress": "false"}
        self.master = f"local[{len(os.sched_getaffinity(0))}]"
        from collector_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=self.master, extra_conf=self.conf)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def gc_seconds(self) -> float:
        """Total time the driver JVM's garbage collectors have run."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_batches(w, spark, seconds: float, results: list) -> list:
    """Back-to-back batches until ``seconds`` of batch time have passed."""
    from workloads import BatchResult

    out = []
    t0 = time.perf_counter()
    while True:
        w.prepare()
        t = time.perf_counter()
        try:
            r = w.batch(spark)
        except Exception as e:  # noqa: BLE001 — a raising batch is a failed batch
            r = BatchResult(0, time.perf_counter() - t, f"{type(e).__name__}: {e}")
        out.append(r)
        results.append(r)
        if time.perf_counter() - t0 >= seconds:
            return out


def end_to_end(timed: list, setup_s: float, jvm_pid: int) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "rows_per_s": sum(r.rows for r in timed) / sum(r.seconds for r in timed),
        "batch_p50_s": statistics.median(r.seconds for r in timed),
        "peak_rss_mb": peak_rss_mb(jvm_pid),
    }


def freshness(timed: list) -> dict[str, float]:
    """Line creation -> commit latency of an open-loop run (summary only)."""
    samples = [s for r in timed for s in r.freshness]
    if not samples:
        return {}
    return {
        "freshness_p50_s": weighted_quantile(samples, 0.5),
        "freshness_p90_s": weighted_quantile(samples, 0.9),
    }


def per_layer(w, spark, seconds: float, results: list, out_dir: str, names) -> tuple[dict[str, float], list[str]]:
    """(per-layer metrics, mismatch messages) of a traced run; ``names``
    are the per-layer metrics BENCHMARK.json declares."""
    from metrics import SPAN_METRIC
    from sparkstats import StatusStoreReader
    from spans import Tracer, batch_walls, self_times

    values = {name: 0.0 for name in names}
    problems = []
    tracer = Tracer(w.name)
    reader = StatusStoreReader(spark)
    per_batch: list[dict[str, float]] = []
    traced, untraced = [], []
    t0 = time.perf_counter()
    # traced and untraced batches alternate, so the overhead ratio
    # compares batches from the same stretch of the run
    while not traced or time.perf_counter() - t0 < seconds:
        untraced += run_batches(w, spark, 0, results)
        reader.take()
        tracer.batch = len(traced)
        w.trace(tracer)
        w.timed = lambda: tracer.span("batch", "bench")
        try:
            traced += run_batches(w, spark, 0, results)
        finally:
            tracer.restore()
            w.timed = nullcontext
        counts = dict(tracer.counts[tracer.batch])
        n_exec, engine = reader.take()
        row = {
            "pipeline.sql_executions_per_batch": n_exec,
            "checkpoint.load_calls_per_tick": counts.get("checkpoint.load_calls", 0),
            "checkpoint.manifest_bytes_per_commit": counts.get("checkpoint.manifest_bytes", 0),
            "sources.spill_bytes": counts.get("sources.spill_bytes", 0),
            "operators.python_ms": engine.pop("python_ms"),
            "operators.arrow_bytes_in": engine.pop("arrow_bytes_in"),
            "operators.arrow_bytes_out": engine.pop("arrow_bytes_out"),
            **{f"spark.{k}": v for k, v in engine.items() if k != "python_rows"},
            **w.layer_counts(),
        }
        if row.get("sources.rows"):
            row["pipeline.parse_rows_per_input_row"] = engine["python_rows"] / row["sources.rows"]
        per_batch.append(row)

    selfs, walls = self_times(tracer.spans), batch_walls(tracer.spans)
    for b, wall in walls.items():
        layer: dict[str, float] = {}
        for span_name, s in selfs[b].items():
            metric = SPAN_METRIC[span_name]
            layer[metric] = layer.get(metric, 0.0) + s
        if abs(sum(layer.values()) - wall) > 1e-6:
            raise AssertionError(f"batch {b}: self times {layer} do not sum to {wall}")
        per_batch[b].update(layer)
    for name in {k for row in per_batch for k in row}:
        values[name] = statistics.median(row.get(name, 0.0) for row in per_batch)

    traced_p50 = statistics.median(walls.values())
    values["trace.batches"] = len(traced)
    values["trace.batch_wall_s"] = traced_p50
    values["trace.overhead_ratio"] = traced_p50 / statistics.median(r.seconds for r in untraced)
    if hasattr(w, "ladder"):
        problem = w.ladder_problem(spark)
        if problem:
            problems.append(problem)
        ladders = [w.ladder(spark) for _ in range(2)]
        prev = None
        for rung in ladders[0]:
            if prev is None:
                values[f"{rung}_s"] = statistics.median(lad[rung][0] for lad in ladders)
            else:
                values[f"{rung}_s"] = statistics.median(lad[rung][0] - lad[prev][0] for lad in ladders)
            if rung != "plans.scan":
                values[f"{rung}.rows_out"] = ladders[0][rung][1]
            prev = rung
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{w.name}-{w.seed}.jsonl"))
    unknown = set(values) - set(names)
    if unknown:
        raise AssertionError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return values, problems


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for smoke tests")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "collector_spark")):
        print(f"perfbench: no collector_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import SCALES, WORKLOADS

    names = catalogue()
    units = names["per_layer" if args.trace else "end_to_end"]

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cpu0 = cpu_times()
    t = time.perf_counter()
    invalid = [f"busy at start: {b}" for b in busy_processes()]
    busy_s = time.perf_counter() - t
    tmp = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=ROOT)
    harden_env(tmp)
    session = w = None
    results: list = []
    problems: list[str] = []
    timeline: dict[str, float] = {}  # phase -> seconds since process start

    def mark(phase: str) -> None:
        timeline[phase] = round(time.perf_counter() - _T0, 2)

    try:
        session = Session(tmp)
        mark("session")
        w = WORKLOADS[args.workload](tmp, args.seed, SCALES[args.scale])
        t = time.perf_counter()
        w.generate(session.spark)
        datagen_s = time.perf_counter() - t
        mark("datagen")

        # set-up: process start (imports, JVM launch, session), instance
        # start, the cold first batch and the warm-up batches, up to the
        # first timed batch; input generation and the busy probe are not
        # part of it
        t = time.perf_counter()
        w.start(session.spark)
        run_batches(w, session.spark, 0, results)
        first_batch_s = time.perf_counter() - t
        mark("first_batch")
        w.begin_measure()
        t = time.perf_counter()
        for _ in range(w.ramp_batches):
            run_batches(w, session.spark, 0, results)
        ramp_s = time.perf_counter() - t
        setup_s = time.perf_counter() - _T0 - datagen_s - busy_s
        mark("ramp")
        gc0 = session.gc_seconds()
        if args.trace:
            metrics, ladder_problems = per_layer(
                w, session.spark, args.seconds, results, os.path.join(ROOT, ".perfbench-out"),
                names["per_layer"],
            )
            problems += ladder_problems
            metrics["session.start_s"] = setup_s - first_batch_s - ramp_s
            metrics["setup.first_batch_s"] = first_batch_s
            metrics["setup.ramp_s"] = ramp_s
            metrics["datagen.input_s"] = datagen_s
        else:
            timed = run_batches(w, session.spark, args.seconds, results)
        mark("measure")
        gc_s = session.gc_seconds() - gc0
        problems += w.end_measure(session.spark)
        mark("checks")
        if args.trace and hasattr(w, "gen"):
            metrics["generator.max_late_s"] = max(w.gen.lateness, default=0.0)
        invalid += w.invalid_reasons()
        if not args.trace:
            metrics = end_to_end(timed, setup_s, session.jvm_pid())
    finally:
        if w is not None:
            w.close()
        if session is not None:
            session.close()
        shutil.rmtree(tmp, ignore_errors=True)
        mark("teardown")

    problems += [r.problem for r in results if r.problem]
    failed = sum(1 for r in results if r.problem) or (1 if problems else 0)
    for msg in problems:
        print(f"perfbench: MISMATCH {msg}", file=sys.stderr)
    # CPU time the hypervisor gave to other guests while this run wanted it
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "steal_share": round(cpu[7] / sum(cpu), 4),
        "failed_ratio": failed / len(results), "valid": not invalid, "invalid": invalid,
        "timeline_s": timeline,
    }
    if not args.trace:
        summary["batch_s"] = [round(r.seconds, 3) for r in timed]
        summary["jvm_gc_s"] = round(gc_s, 3)
        summary["setup_parts_s"] = {"first_batch": round(first_batch_s, 3), "ramp": round(ramp_s, 3)}
        summary.update({k: round(v, 4) for k, v in metrics.items()})
        summary.update({k: round(v, 4) for k, v in freshness(timed).items()})
    print(json.dumps(summary))
    print(json.dumps({
        "correct": not problems,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
