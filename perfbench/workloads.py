"""The benchmark's workloads: seeded inputs, one batch, output checks.

Every expectation is derived from what the generator wrote, never from
the program: the pages check re-reads the generated parquet with
pyarrow, the log workloads keep per-file ledgers of the lines they
wrote.
"""

from __future__ import annotations

import glob
import html
import json
import os
import random
import re
import shutil
import threading
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from collector_spark import datagen
from collector_spark.checkpoint import Manifest
from collector_spark.collector import Collector
from collector_spark.pipeline import Pipeline
from collector_spark.plans import pages_job
from collector_spark.sinks.sinks import FileSink, ParquetSink
from collector_spark.sources.sources import FileSource

SCALES = {
    # distinct pages and copies of each (pages per pass = their product);
    # tick lines/s and warm-up lines; backlog lines
    "full": {"pages": 5_000, "copies": 8, "rate": 500, "warm_lines": 500, "backlog": 100_000},
    "tiny": {"pages": 400, "copies": 1, "rate": 100, "warm_lines": 50, "backlog": 2_000},
}


@dataclass
class BatchResult:
    rows: int
    seconds: float
    problem: str | None = None
    # (seconds from a line's creation to the commit that carried it, lines)
    freshness: list[tuple[float, int]] = field(default_factory=list)


def _sink_files(path: str, batch_id: int) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(path, f"batch_id={batch_id}", "*"))
        if not os.path.basename(p).startswith((".", "_"))
    ]


def _text_lines(files: list[str]) -> int:
    n = 0
    for p in files:
        with open(p, "rb") as f:
            n += sum(1 for _ in f)
    return n


def _parquet_rows(files: list[str]) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in files)


def _written(d: str, sink_kinds: dict[str, str], rec) -> dict[str, float]:
    files = [p for name in sink_kinds for p in _sink_files(os.path.join(d, name), rec.batch_id)]
    return {
        "sinks.files_per_batch": len(files),
        "sinks.bytes_written": sum(os.path.getsize(p) for p in files),
        "sinks.rows_written": sum(rec.per_sink_counts.values()),
    }


class Workload:
    name = ""
    #: untimed batches between begin_measure() and the first timed one
    ramp_batches = 0

    def __init__(self, tmp: str, seed: int, scale: dict):
        self.tmp = tmp
        self.seed = seed
        self.scale = scale
        # context entered around the timed part of each batch; a traced
        # run swaps in the tracer's root span
        self.timed = nullcontext

    def generate(self, spark) -> None:
        """Make the inputs from the seed (timed apart from set-up)."""

    def start(self, spark) -> None:
        """Start the instance (part of set-up)."""

    def prepare(self) -> None:
        """Untimed work before each batch."""

    def batch(self, spark) -> BatchResult:
        raise NotImplementedError

    def layer_counts(self) -> dict[str, float]:
        """Per-layer counts of the last batch, read after it (traced runs)."""
        return {}

    def begin_measure(self) -> None:
        pass

    def end_measure(self, spark) -> list[str]:
        """Final output checks; returns mismatch messages."""
        return []

    def invalid_reasons(self) -> list[str]:
        return []

    def close(self) -> None:
        """Stop anything the workload started (runs on every exit path)."""

    # tracing -----------------------------------------------------------

    def trace(self, tracer) -> None:
        """Wrap the public functions this workload calls into."""


# ---------------------------------------------------------------------------
# pages_flagship
# ---------------------------------------------------------------------------

_PRE = re.compile(rb'<pre data-log="1">(.*?)</pre>', re.S)


class PagesFlagship(Workload):
    """Closed loop of back-to-back ``run_pages_pipeline`` passes."""

    name = "pages_flagship"
    # pass time keeps falling over the first passes while the JIT warms
    # up; set-up runs these after the cold first pass
    ramp_batches = 4

    def generate(self, spark) -> None:
        """Pages from the repo's generator (the same rows
        ``datagen.gen_pages_df`` produces), each distinct page repeated
        ``copies`` times, written as 8 parquet files in-process. Copies
        keep input generation short while every row still goes through
        the whole plan."""
        import pyarrow as pa

        self.path = os.path.join(self.tmp, "pages")
        os.makedirs(self.path)
        rows = datagen.gen_pages_local(self.scale["pages"], seed=self.seed)
        copies = self.scale["copies"]
        for part in range(8):
            chunk = pa.Table.from_pylist(rows[part::8])
            pq.write_table(pa.concat_tables([chunk] * copies), os.path.join(self.path, f"part-{part:05d}.parquet"))
        codes: Counter = Counter()
        for page in rows:
            for block in _PRE.findall(page["html"]):
                for line in html.unescape(block.decode()).split("\n"):
                    if line.startswith("{"):
                        codes[json.loads(line)["code"]] += copies
        ok = codes[200]
        errors = sum(n for c, n in codes.items() if c >= 400)
        self.expected = {"ok": ok, "errors": errors, "all": ok + errors}
        self.rows = self.scale["pages"] * copies

    def batch(self, spark) -> BatchResult:
        with self.timed():
            t0 = time.perf_counter()
            out = pages_job.run_pages_pipeline(spark, self.path, seed=self.seed)
            dt = time.perf_counter() - t0
        problem = None
        if out["sink_counts"] != self.expected:
            problem = f"route counts {out['sink_counts']} != expected {self.expected}"
        return BatchResult(self.rows, dt, problem)

    def trace(self, tracer) -> None:
        tracer.wrap(pages_job, "run_pages_pipeline", "plans", "plans.run_pages_pipeline")
        tracer.wrap(pages_job, "build_pages_agg", "plans", "plans.build_pages_agg")

    def ladder(self, spark) -> dict[str, tuple[float, int]]:
        """Prefix ladder of ``build_pages_agg``: each prefix materialized
        with a noop write (every column computed, unlike ``count()``),
        the last rung is the job itself. {rung: (seconds, rows out)}.

        The prefixes rebuild the job's stages here, so ``ladder_problem``
        first checks that the last prefix is still the plan under the
        job's aggregation."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        out = {}
        for rung, df in self._prefixes(spark):
            obs = Observation()
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            t0 = time.perf_counter()
            observed.write.format("noop").mode("overwrite").save()
            out[rung] = (time.perf_counter() - t0, int(obs.get["rows"]))
        t0 = time.perf_counter()
        rows = pages_job.build_pages_agg(spark, spark.read.parquet(self.path), self.seed).collect()
        out["operators.aggregate"] = (time.perf_counter() - t0, len(rows))
        return out

    def _prefixes(self, spark) -> list:
        """[(rung, DataFrame)]: the stages of ``pages_job.build_pages_agg``
        up to its aggregation, one prefix per stage."""
        from pyspark.sql import functions as F

        from collector_spark.operators.cel import CelFilter
        from collector_spark.operators.enrich import url_domain, url_tld
        from collector_spark.operators.extract import HtmlExtractor
        from collector_spark.operators.json_mutate import JsonMutator

        pages = spark.read.parquet(self.path)
        lookups = datagen.lookup_dfs(spark, self.seed)
        scan = pages.select("url", "html")
        lines = HtmlExtractor(engine="native").log_lines(pages, keep_cols=("url",))
        lines = lines.filter(F.col("value").startswith("{"))
        cel = CelFilter(rules=["event.code == 200 || event.code >= 400"], action="accept").apply(lines)
        mutated = JsonMutator(add=[{"key": "pipeline", "value": "bench"}], engine="native").apply(cel)
        enriched = (
            mutated.withColumn("domain", url_domain(F.col("url")))
            .withColumn("tld", url_tld(F.col("url")))
            .join(F.broadcast(lookups["domain_map"]), "domain", "left")
            .join(F.broadcast(lookups["tld_map"]), "tld", "left")
        )
        return [
            ("plans.scan", scan),
            ("operators.extract", lines),
            ("operators.cel", cel),
            ("operators.json_mutate", mutated),
            ("operators.enrich", enriched),
        ]

    def ladder_problem(self, spark) -> str | None:
        """None when the ladder's last prefix has the same analyzed plan
        as the input of ``build_pages_agg``'s aggregation, else both
        plans. Attribute ids (``#123``) differ between two builds of one
        plan and are left out of the comparison."""
        enriched = self._prefixes(spark)[-1][1]._jdf.queryExecution().analyzed()
        job = pages_job.build_pages_agg(spark, spark.read.parquet(self.path), self.seed)
        node = job._jdf.queryExecution().analyzed()
        while node.nodeName() != "Aggregate":
            if node.children().isEmpty():
                return "build_pages_agg has no Aggregate node"
            node = node.children().head()
        ladder, agg_input = (
            re.sub(r"#\d+", "", p.treeString()) for p in (enriched, node.children().head())
        )
        if ladder == agg_input:
            return None
        return f"the ladder's prefixes no longer match build_pages_agg:\nladder:\n{ladder}\njob:\n{agg_input}"


class DaemonWorkload(Workload):
    """A workload driving instances through ``Collector`` (the daemon
    path: sources -> pipeline -> sinks -> checkpoint)."""

    #: sinks whose files are read back after the run: name -> kind
    sink_kinds: dict[str, str] = {}

    def trace(self, tracer) -> None:
        def manifest_size(args, _):
            tracer.count("checkpoint.manifest_bytes", os.path.getsize(args[0].path))

        def spill_size(args, _):
            src = args[0]
            tracer.count(
                "sources.spill_bytes",
                sum(os.path.getsize(p) for p in glob.glob(os.path.join(src.spill_dir, "tail_*"))),
            )

        def sink_name(args):
            return f"sinks.{self.sink_names.get(id(args[0]), 'other')}.write"

        tracer.wrap(Collector, "tick", "collector", "collector.tick")
        tracer.wrap(Collector, "start", "collector", "collector.start")
        tracer.wrap(Pipeline, "run_tick", "pipeline", "pipeline.run_tick")
        tracer.wrap(Pipeline, "run_batch", "pipeline", "pipeline.run_batch")
        tracer.wrap(Pipeline, "transform", "pipeline", "pipeline.transform")
        tracer.wrap(Pipeline, "transform_tagged", "pipeline", "pipeline.transform")
        tracer.wrap(FileSource, "read_new", "sources", "sources.read_new", after=spill_size)
        tracer.wrap(FileSource, "commit_read", "sources", "sources.commit_read")
        tracer.wrap(FileSink, "write", "sinks", sink_name)
        tracer.wrap(ParquetSink, "write", "sinks", sink_name)
        tracer.wrap(Manifest, "commit", "checkpoint", "checkpoint.commit", after=manifest_size)
        tracer.wrap(
            Manifest, "load", "checkpoint", "checkpoint.load",
            after=lambda a, r: tracer.count("checkpoint.load_calls"),
        )

    def _register_sinks(self, pipe: Pipeline) -> None:
        self.sink_names = {id(s): n for n, s in pipe.sinks.items()}
        if pipe.quarantine_sink is not None:
            self.sink_names[id(pipe.quarantine_sink)] = "quarantine"


# ---------------------------------------------------------------------------
# tick_stream
# ---------------------------------------------------------------------------

_CODES = (200, 200, 200, 301, 404, 500)


def _routed(codes: Counter) -> dict[str, int]:
    """Sink counts the tick_stream instance must report for these codes."""
    ok, errors = codes[200], sum(n for c, n in codes.items() if c >= 400)
    return {"ok": ok, "errors": errors, "archive": ok + errors}


@dataclass
class _File:
    path: str
    created: list[float]
    codes: Counter


class LineGenerator:
    """Open-loop load generator: JSON log lines at a fixed rate, each
    stamped with its creation time, written as one small file per
    interval and renamed into place whole (a reader never sees a file
    grow). Keeps a ledger of every file until a tick consumes it."""

    def __init__(self, in_dir: str, seed: int, rate: int, interval: float = 0.1):
        self.in_dir = in_dir
        self.rng = random.Random(seed)
        self.rate = rate
        self.interval = interval
        self.pending: dict[str, _File] = {}
        self.totals: Counter = Counter()
        self.lateness: list[float] = []
        self._seq = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def write(self, created: list[float]) -> None:
        codes = [self.rng.choice(_CODES) for _ in created]
        name = os.path.join(self.in_dir, f"lines-{self._seq:07d}.log")
        self._seq += 1
        with open(name + ".tmp", "w") as f:
            for t, c in zip(created, codes):
                f.write(json.dumps({"code": c, "created": t}) + "\n")
        os.rename(name + ".tmp", name)
        with self._lock:
            self.pending[name] = _File(name, created, Counter(codes))
            self.totals.update(codes)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="line-generator", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        t0 = time.time()
        k, written = 1, 0
        while not self._stop.is_set():
            due = t0 + k * self.interval
            if time.time() < due and self._stop.wait(due - time.time()):
                break
            n = int(k * self.interval * self.rate) - written
            self.write([t0 + (written + j) / self.rate for j in range(n)])
            written += n
            self.lateness.append(time.time() - due)
            k += 1

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=30)
            if self._thread.is_alive():
                raise RuntimeError("line generator did not stop")

    def take_consumed(self) -> list[_File]:
        """Files a tick consumed: the source deletes them at commit."""
        with self._lock:
            gone = [f for n, f in self.pending.items() if not os.path.exists(n)]
            for f in gone:
                del self.pending[f.path]
        return gone


class TickStream(DaemonWorkload):
    """Open loop: a generator thread appends lines, the main loop runs
    ``Collector.tick`` back to back."""

    name = "tick_stream"
    sink_kinds = {"ok": "file", "errors": "file", "archive": "parquet"}
    # the first tick after the generator starts finds almost nothing;
    # from the second on, each tick carries the lines of the previous one
    ramp_batches = 1

    def start(self, spark) -> None:
        d = os.path.join(self.tmp, "tick")
        self.dir = d
        in_dir = os.path.join(d, "in")
        os.makedirs(in_dir)
        self.gen = LineGenerator(in_dir, self.seed, self.scale["rate"])
        self.collector = Collector(state_dir=os.path.join(d, "state"))
        sink = lambda name, kind, pred: {  # noqa: E731
            "name": name, "kind": kind, "predicate": pred,
            "config": {"path": os.path.join(d, name)},
        }
        pipe = self.collector.start("stream", {
            "input": {"kind": "file", "path": os.path.join(in_dir, "*.log"), "delete": True,
                      "spill_dir": os.path.join(d, "spill")},
            "processors": [
                {"kind": "cel", "rules": ["event.code == 200 || event.code >= 400"]},
                {"kind": "json", "add": [{"key": "pipeline", "value": "perfbench"}]},
            ],
            "sinks": [
                sink("ok", "file", "event.code == 200"),
                sink("errors", "file", "event.code >= 400"),
                sink("archive", "parquet", None),
            ],
        })
        self._register_sinks(pipe)
        self.batches = 0
        self.measuring = False
        # the warm-up tick reads one file written now
        now = time.time()
        self.gen.write([now] * self.scale["warm_lines"])

    def begin_measure(self) -> None:
        self.measuring = True
        self.gen.start()

    def batch(self, spark) -> BatchResult:
        with self.timed():
            t0 = time.perf_counter()
            rec = self.collector.tick(spark, "stream")
            dt = time.perf_counter() - t0
        self.last = rec
        self.batches += 1
        consumed = self.gen.take_consumed()
        codes = sum((f.codes for f in consumed), Counter())
        expected = _routed(codes)
        self.last_rows = sum(codes.values())
        problem = None
        if rec.failed:
            problem = f"tick {rec.batch_id} failed"
        elif rec.per_sink_counts != expected:
            problem = f"tick {rec.batch_id}: sinks {rec.per_sink_counts} != expected {expected}"
        fresh = [(rec.committed_at - t, 1) for f in consumed for t in f.created]
        return BatchResult(self.last_rows, dt, problem, fresh if self.measuring else [])

    def end_measure(self, spark) -> list[str]:
        self.gen.stop()
        self.measuring = False
        problems = []
        for _ in range(5):  # drain what the generator wrote last
            if not self.gen.pending:
                break
            r = self.batch(spark)
            if r.problem:
                problems.append(r.problem)
        if self.gen.pending:
            problems.append(f"{len(self.gen.pending)} input files never consumed")
        ids = [r.batch_id for r in Manifest(os.path.join(self.dir, "state"), "stream").load()]
        if sorted(ids) != list(range(len(ids))) or len(ids) != self.batches:
            problems.append(f"manifest batch ids not contiguous: {sorted(ids)[:5]}... n={len(ids)}")
        expected = _routed(self.gen.totals)
        on_disk = {
            name: sum(
                (_text_lines if kind == "file" else _parquet_rows)(_sink_files(os.path.join(self.dir, name), b))
                for b in ids
            )
            for name, kind in self.sink_kinds.items()
        }
        if on_disk != expected:
            problems.append(f"sink files hold {on_disk}, generator wrote {expected}")
        return problems

    def layer_counts(self) -> dict[str, float]:
        rec = self.last
        stages = rec.per_stage_counts
        return {
            **_written(self.dir, self.sink_kinds, rec),
            "sources.rows": self.last_rows,
            "operators.cel.rows_out": stages.get("stage_0_cel", 0),
            "operators.json_mutate.rows_out": stages.get("stage_1_json", 0),
        }

    def close(self) -> None:
        if hasattr(self, "gen"):
            self.gen.stop()

    def invalid_reasons(self) -> list[str]:
        late = max(self.gen.lateness, default=0.0)
        if late > 0.5:
            return [f"generator ran up to {late:.2f} s late"]
        return []


# ---------------------------------------------------------------------------
# backlog_quarantine
# ---------------------------------------------------------------------------

_STAGES = ("stage_0_syslog", "stage_1_kv", "stage_2_cel", "stage_3_json")


class BacklogQuarantine(DaemonWorkload):
    """Closed loop: each iteration a fresh instance catches up on one
    large file of syslog-wrapped CEF lines (~5% garbage) through the
    FileSource spill path and the quarantine (dead-letter) batch path."""

    name = "backlog_quarantine"
    sink_kinds = {"ok": "parquet", "errors": "file", "quarantine": "parquet"}
    # the first iteration after the set-ups still runs ~15% slow
    ramp_batches = 1

    def generate(self, spark) -> None:
        rng = random.Random(self.seed)
        self.source = os.path.join(self.tmp, "backlog.log")
        fails: Counter = Counter()
        routed: Counter = Counter()
        with open(self.source, "w") as f:
            for i in range(self.scale["backlog"]):
                host = f"host{rng.randrange(50)}"
                stamp = f"Apr {rng.randrange(1, 29):2d} {rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
                u = rng.random()
                if u < 0.025:  # not syslog at all
                    f.write(f"garbage {rng.getrandbits(48):x} {i}\n")
                    fails["stage_0_syslog"] += 1
                    continue
                if u < 0.05:  # syslog-wrapped, but no CEF header
                    f.write(f"<134>{stamp} {host} free text message {i}\n")
                    fails["stage_1_kv"] += 1
                    continue
                sev = rng.randrange(10)
                action = rng.choice(("allow", "allow", "deny"))
                f.write(
                    f"<134>{stamp} {host} CEF:0|perfbench|backlog|1.0|evt:{rng.randrange(20)}|"
                    f"{action}|{sev}|src=10.0.{rng.randrange(256)}.{rng.randrange(256)} "
                    f"requestCode={rng.choice((200, 404, 500))} cat=backlog:{i}\n"
                )
                if sev < 3:
                    fails["stage_2_cel"] += 1
                else:
                    routed["ok" if action == "allow" else "errors"] += 1
        self.expected = {
            "ok": routed["ok"], "errors": routed["errors"],
            "__quarantine__": sum(fails.values()),
        }
        self.expected_fails = dict(fails)
        self.iteration = 0
        self.dir = None

    def _config(self, d: str) -> dict:
        sink = lambda name, kind, pred: {  # noqa: E731
            "name": name, "kind": kind, "predicate": pred,
            "config": {"path": os.path.join(d, name)},
        }
        return {
            "input": {"kind": "file", "path": os.path.join(d, "in", "*.log"), "delete": True,
                      "max_driver_bytes": 1 << 20, "spill_dir": os.path.join(d, "spill")},
            "processors": [
                {"kind": "syslog", "type": "rfc3164"},
                {"kind": "kv", "type": "cef", "as_json": True},
                {"kind": "cel", "rules": ["int(event.severity) >= 3"]},
                {"kind": "json", "add": [{"key": "pipeline", "value": "perfbench"}]},
            ],
            "sinks": [
                sink("ok", "parquet", 'event.name == "allow"'),
                sink("errors", "file", 'event.name == "deny"'),
            ],
            "quarantine": {"kind": "parquet", "path": os.path.join(d, "quarantine")},
        }

    def prepare(self) -> None:
        if self.dir is not None:
            shutil.rmtree(self.dir)  # only the latest iteration is read back
        self.iteration += 1
        self.dir = os.path.join(self.tmp, f"backlog{self.iteration}")
        os.makedirs(os.path.join(self.dir, "in"))
        os.link(self.source, os.path.join(self.dir, "in", "backlog.log"))

    def batch(self, spark) -> BatchResult:
        with self.timed():
            t0 = time.perf_counter()
            collector = Collector(state_dir=os.path.join(self.dir, "state"))
            self._register_sinks(collector.start("backlog", self._config(self.dir)))
            rec = collector.tick(spark, "backlog")
            dt = time.perf_counter() - t0
        self.last = rec
        n = self.scale["backlog"]
        problem = None
        if rec.failed:
            problem = f"iteration {self.iteration} failed"
        elif rec.per_sink_counts != self.expected:
            problem = f"sinks {rec.per_sink_counts} != expected {self.expected}"
        return BatchResult(n, dt, problem)

    def layer_counts(self) -> dict[str, float]:
        q = self.quarantined_by_stage()
        out = {**_written(self.dir, self.sink_kinds, self.last), "sources.rows": self.scale["backlog"]}
        rows = self.scale["backlog"]
        for stage, op in zip(_STAGES, ("syslog", "kv", "cel", "json_mutate")):
            rows -= q[stage]
            out[f"operators.{op}.rows_out"] = rows
        return out

    def quarantined_by_stage(self) -> Counter:
        files = _sink_files(os.path.join(self.dir, "quarantine"), 0)
        return Counter(
            s for p in files for s in pq.read_table(p, columns=["fail_stage"]).column(0).to_pylist()
        )

    def end_measure(self, spark) -> list[str]:
        problems = []
        on_disk = {
            name: (_text_lines if kind == "file" else _parquet_rows)(_sink_files(os.path.join(self.dir, name), 0))
            for name, kind in self.sink_kinds.items()
        }
        expected = {"ok": self.expected["ok"], "errors": self.expected["errors"],
                    "quarantine": self.expected["__quarantine__"]}
        if on_disk != expected:
            problems.append(f"sink files hold {on_disk}, generator wrote {expected}")
        by_stage = dict(self.quarantined_by_stage())
        if by_stage != self.expected_fails:
            problems.append(f"quarantine by stage {by_stage} != expected {self.expected_fails}")
        return problems


WORKLOADS = {w.name: w for w in (PagesFlagship, TickStream, BacklogQuarantine)}
