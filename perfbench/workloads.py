"""The benchmark's workloads, driven through the engine's public API only.

Every workload is a closed loop with one client: an operation starts
when the previous one has completed, and each is followed by an
untimed correctness check.  Both run on the many-small corpus of
``corpus.py``.

* ``espi_many_small``: an operation converts a batch of 32 exports to
  parquet with the Spark engine (``local[SPARK_GRAFT_CPUS]``); every
  fourth converts one export alone, the single-file Spark path.
* ``espi_cli_file``: each operation is one ``python -m
  greenbuttonengine_spark.cli --filetype csv`` process on one export
  (the in-process fast path, no JVM).

The traced run (``trace=True``) adds spans around the calls into each
layer.  Its per-layer passes decompose a lazy pipeline: the parse, the
split and denormalize, and each sink run over persisted intermediates,
so their sum is compared with, not equated to, the untraced conversion.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path

import corpus
from spans import Tracer

ROOT = Path(__file__).resolve().parent.parent
BATCH = 32  # files per Spark batch conversion
FILE_EVERY = 4  # espi_many_small: operations 3, 7, 11, ... convert one file alone
SINKS = ("parquet", "csv", "influx")
TINY_BATCH = 4  # files per conversion on corpus.TINY


@dataclass
class Op:
    kind: str  # "batch", "file" (one file through the Spark engine) or "cli"
    seconds: float
    files: int
    rows: int
    ok: bool
    note: str = ""


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_spark(tmp: Path):
    from greenbuttonengine_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": str(tmp),
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# ---------------------------------------------------------------------------
# conversion and its checks
# ---------------------------------------------------------------------------


def write_sink(sink: str, ts, out: Path) -> None:
    from greenbuttonengine_spark.sinks import write_csv, write_influx_lines, write_parquet

    if sink == "parquet":
        write_parquet(ts, str(out))
    elif sink == "csv":
        write_csv(ts, str(out), single_file=False)
    else:
        write_influx_lines(ts, str(out), single_file=False)


def convert(spark, paths: list[str], sinks, out: Path) -> list:
    """One conversion as a user runs it: ingest, write each sink, collect errors."""
    from greenbuttonengine_spark.espi.pipeline import timeseries_from_files

    ts, errors = timeseries_from_files(spark, paths)
    for sink in sinks:
        write_sink(sink, ts, out / sink)
    return errors.collect()


def check_errors(manifest: dict, names: list[str], error_rows) -> str:
    """Error files must be exactly the manifest's, each with its error."""
    got: dict[str, list[str]] = {}
    for row in error_rows:
        got.setdefault(os.path.basename(row["source_file"]), []).append(row["error"])
    want = {n: manifest["files"][n]["error"] for n in names if manifest["files"][n]["error"]}
    if set(got) != set(want):
        return f"error files {sorted(got)} != manifest {sorted(want)}"
    for name, msgs in got.items():
        if not all(want[name] in m.lower() for m in msgs):
            return f"{name}: errors {msgs} lack {want[name]!r}"
    return ""


def _canon(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime):  # parquet TIMESTAMP(MILLIS) -> epoch seconds
        return str(int(v.replace(tzinfo=timezone.utc).timestamp()))
    return str(v)


def rows_digest(rows: list[dict]) -> str:
    from greenbuttonengine_spark.espi.schemas import TIMESERIES_COLUMNS

    lines = sorted("|".join(_canon(r[c]) for c in TIMESERIES_COLUMNS) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def good_files(manifest: dict) -> list[str]:
    return [n for n, r in sorted(manifest["files"].items()) if not r["error"]]


def check_parquet(manifest: dict, corpus_dir: Path, names: list[str], out: Path, error_rows) -> str:
    """Rows per title equal the manifest; error files equal the manifest's;
    the first good file's rows hash-equal to ``espi.fastpath.convert_file``,
    the twin that pytest pins."""
    import pyarrow.parquet as pq

    from greenbuttonengine_spark.espi.fastpath import convert_file

    table = pq.read_table(str(out))
    got = Counter(table.column("title").to_pylist())
    want = Counter()
    for name in names:
        want.update(manifest["files"][name]["titles"])
    if got != want:
        diff = {k: (got[k], want[k]) for k in set(got) | set(want) if got[k] != want[k]}
        return f"rows per title differ from manifest (got, want): {dict(list(diff.items())[:3])}"
    note = check_errors(manifest, names, error_rows)
    twin = next((n for n in names if not manifest["files"][n]["error"]), None)
    if note or twin is None:
        return note
    titles = set(manifest["files"][twin]["titles"])
    spark_rows = [r for r in table.to_pylist() if r["title"] in titles]
    fast_rows, errors = convert_file(str(corpus_dir / twin))
    if errors or rows_digest(spark_rows) != rows_digest(fast_rows):
        return f"{twin}: Spark rows differ from espi.fastpath ({len(spark_rows)} vs {len(fast_rows)}, {errors})"
    return ""


def run_cli(path: Path, out: Path, env: dict) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "-m", "greenbuttonengine_spark.cli", "--filetype", "csv", "--out", str(out), str(path)]
    return subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True, timeout=120)


def check_cli(manifest: dict, name: str, proc: subprocess.CompletedProcess, out: Path) -> str:
    rec = manifest["files"][name]
    if proc.returncode != 0:
        return f"{name}: CLI exit {proc.returncode}: {proc.stderr[-300:]}"
    with open(out) as fh:
        lines = sum(1 for _ in fh)
    if lines != 1 + rec["readings"]:
        return f"{name}: CLI wrote {lines} lines, manifest wants {1 + rec['readings']}"
    if rec["error"] and rec["error"] not in proc.stderr.lower():
        return f"{name}: CLI stderr lacks {rec['error']!r}"
    return ""


def percentile_with_tail(values: list[float]) -> tuple[int, float] | None:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for q in (99, 95, 90, 75):
        if len(values) * (100 - q) / 100 >= 10:
            return q, statistics.quantiles(values, n=100, method="inclusive")[q - 1]
    return None


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path, tiny: bool):
        self.workload = workload
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.corpus_dir = work / "corpus"
        self.manifest = corpus.generate(seed, self.corpus_dir, corpus.TINY if tiny else corpus.SPEC)
        self.names = sorted(self.manifest["files"])
        self.good = good_files(self.manifest)
        batch = TINY_BATCH if tiny else BATCH
        self.batches = [self.names[i:i + batch] for i in range(0, len(self.names), batch)]
        self.tmp = work / "tmp"
        self.out = work / "out"
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", trace)
        self.ops: list[Op] = []
        self.setups: list[float] = []
        self.spark = None
        self.peak_rss_mb: dict = {}
        self.env = dict(os.environ)

    def _paths(self, names: list[str]) -> list[str]:
        return [str(self.corpus_dir / n) for n in names]

    # -- operations ---------------------------------------------------------

    def op(self, i: int) -> Op:
        """Operation ``i``, timed from before its span opens to after it
        closes, so that a traced operation's time holds the tracer's work."""
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)
        if self.workload == "espi_cli_file":
            name = self.names[i % len(self.names)]
            dst = self.out / "out.csv"
            t0 = time.perf_counter()
            with self.tracer.span("cli.file"):
                proc = run_cli(self.corpus_dir / name, dst, self.env)
            dt = time.perf_counter() - t0
            note = check_cli(self.manifest, name, proc, dst)
            return Op("cli", dt, 1, self.manifest["files"][name]["readings"], not note, note)
        if i % FILE_EVERY == FILE_EVERY - 1:
            kind, names = "file", [self.good[i // FILE_EVERY % len(self.good)]]
        else:  # the batches in turn
            kind, names = "batch", self.batches[(i - i // FILE_EVERY) % len(self.batches)]
        t0 = time.perf_counter()
        with self.tracer.span("espi.convert", files=len(names)):
            error_rows = convert(self.spark, self._paths(names), ("parquet",), self.out)
        dt = time.perf_counter() - t0
        note = check_parquet(self.manifest, self.corpus_dir, names, self.out / "parquet", error_rows)
        rows = sum(self.manifest["files"][n]["readings"] for n in names)
        return Op(kind, dt, len(names), rows, not note, note)

    def guarded(self, i: int) -> Op:
        """An operation that raised counts as failed; the run goes on."""
        try:
            return self.op(i)
        except Exception as ex:  # noqa: BLE001 - counted into failed, with its cause
            return Op("raised", 0.0, 0, 0, False, f"{type(ex).__name__}: {ex}"[:500])

    def warmup(self) -> None:
        """CLI: one conversion of one good file.  Spark: the last two
        batches to parquet.  The first conversion of a fresh JVM takes
        three to four times as long as a warm one (24 s against 6-7 s on
        4 cores), and the second still about a quarter longer; the JVM
        keeps speeding up a little over its next few conversions, and that
        tail falls in the measured loop, the same way in every run."""
        if self.spark is None:
            run_cli(self.corpus_dir / self.good[0], self.tmp / "warm.csv", self.env)
            return
        for batch in self.batches[-2:]:
            convert(self.spark, self._paths(batch), ("parquet",), self.tmp / "warm")

    def setup(self) -> None:
        """setup_s samples.  Spark: session start (a new JVM) plus the
        warm-up, once.  CLI: three warm-up processes."""
        self.tmp.mkdir(parents=True, exist_ok=True)
        for _ in range(3 if self.workload == "espi_cli_file" else 1):
            t0 = time.perf_counter()
            if self.workload == "espi_cli_file":
                self.warmup()
            else:
                self.open_spark()
            self.setups.append(time.perf_counter() - t0)

    def open_spark(self) -> None:
        with self.tracer.span("session"):
            with self.tracer.span("session.get_spark"):
                self.spark = start_spark(self.tmp)
            if self.trace:
                self.tracer.bind(self.spark.sparkContext)
            with self.tracer.span("session.warmup"):
                self.warmup()

    def close(self) -> None:
        if self.spark is not None:
            self.tracer.bind(None)
            stop_spark(self.spark)
            self.spark = None

    # -- untraced run -------------------------------------------------------

    def loop(self) -> dict:
        """Closed loop for ``seconds`` -> end-to-end metrics, from the batch
        (or CLI) operations; the one-file Spark operations of
        espi_many_small go to the run record.  espi_many_small runs whole
        blocks of three batches and one file, so that every run with the
        same speed has the same operations: a JVM still speeding up makes
        a run's median depend on how many of its later, faster operations
        it holds."""
        block = 1 if self.spark is None else FILE_EVERY
        start = time.perf_counter()
        i = 0
        while i % block or time.perf_counter() - start < self.seconds:
            self.ops.append(self.guarded(i))
            i += 1
        done = [o for o in self.ops if o.ok and o.kind != "file"]
        busy = sum(o.seconds for o in done)
        # Peak RSS goes to the run record, not the result: the JVM's heap
        # grows as G1 decides, so its resident peak varied by 30 % (IQR
        # over median) across five seeds on an idle host.
        if self.spark is not None:
            self.peak_rss_mb = {
                "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                "jvm": jvm_peak_rss_mb(self.spark),
            }
        else:  # the largest CLI process
            self.peak_rss_mb = {"cli": resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0}
        metrics = {
            "setup_s": (statistics.median(self.setups), "s"),
            "op_s_p50": (statistics.median(o.seconds for o in done) if done else math.inf, "s"),
            "files_per_s": (sum(o.files for o in done) / busy if busy else 0.0, "1/s"),
            "readings_per_s": (sum(o.rows for o in done) / busy if busy else 0.0, "1/s"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    # -- traced run ---------------------------------------------------------

    def traced(self) -> dict:
        """Per-layer metrics.  Untraced and traced runs of the first
        operation alternate in blocks of untraced, traced, traced,
        untraced (so that a JVM still speeding up favours neither) for
        half of ``seconds`` (tracing overhead), then one pass per layer
        runs over the first batch."""
        untraced: list[float] = []
        traced: list[float] = []
        start = time.perf_counter()
        i = 0
        while i % 4 or time.perf_counter() - start < self.seconds / 2:
            self.tracer.enabled = i % 4 in (1, 2)
            op = self.guarded(0)
            self.ops.append(op)
            (traced if self.tracer.enabled else untraced).append(op.seconds)
            i += 1
        self.tracer.enabled = True
        if self.spark is None:  # CLI workload: the Spark layers still get measured
            self.open_spark()
        # the parent span's self time and jobs are the work between the layer spans
        with self.tracer.span("layers"):
            m = self.layer_passes(self.batches[0])
        m["trace.overhead_ratio"] = (
            sum(traced) / max(sum(untraced), 1e-9), "ratio"
        )
        m["session.get_spark_s"] = (self.tracer.median_seconds("session.get_spark"), "s")
        m["session.warmup_s"] = (self.tracer.median_seconds("session.warmup"), "s")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def layer_passes(self, batch: list[str]) -> dict:
        from greenbuttonengine_spark.espi.enum_dim import load_enum_dim
        from greenbuttonengine_spark.espi.fastpath import convert_file
        from greenbuttonengine_spark.espi.parser import parse_espi_feed
        from greenbuttonengine_spark.espi.pipeline import denormalize_with_errors
        from greenbuttonengine_spark.espi.source import read_espi, split_tables

        tr, spark, paths = self.tracer, self.spark, self._paths(batch)
        good = [n for n in batch if not self.manifest["files"][n]["error"]]
        m: dict = {}

        # espi.parser: single thread, in process
        readings = rows = 0
        with tr.span("espi.parser.parse") as sp:
            for name in good:
                parsed_rows = parse_espi_feed((self.corpus_dir / name).read_text("utf-8"), name)
                rows += len(parsed_rows)
                readings += sum(1 for r in parsed_rows if r["row_kind"] == "interval_reading")
        m["espi.parser.readings_per_s"] = (readings / sp.seconds, "1/s")
        m["espi.parser.rows"] = (rows, "count")

        # espi.source: the distributed read and parse, to noop
        with tr.span("espi.source.read") as sp:
            read_espi(spark, paths).write.format("noop").mode("overwrite").save()
        m["espi.source.read_s"] = (sp.seconds, "s")
        parsed = read_espi(spark, paths).persist()
        with tr.span("espi.source.persist"):
            kinds = {r["row_kind"]: r["count"] for r in parsed.groupBy("row_kind").count().collect()}
            files = parsed.select("source_file").distinct().count()
        m["espi.source.files"] = (files, "count")
        for kind, key in (
            ("entry", "entry"), ("interval_reading", "interval_reading"),
            ("reading_type", "reading_type"), ("local_time_parameters", "ltp"), ("error", "error"),
        ):
            m[f"espi.source.rows.{key}"] = (kinds.get(kind, 0), "count")

        # espi.pipeline: split + denormalize over the persisted parse
        with tr.span("espi.pipeline.denormalize") as sp:
            ts, errors = denormalize_with_errors(split_tables(parsed), load_enum_dim(spark))
            ts.write.format("noop").mode("overwrite").save()
            error_rows = errors.collect()
        m["espi.pipeline.denormalize_s"] = (sp.seconds, "s")
        m["espi.pipeline.error_files"] = (len({r["source_file"] for r in error_rows}), "count")
        for k in ("jobs", "stages", "tasks"):
            m[f"espi.pipeline.{k}"] = (sp.attrs.get(k, 0), "count")

        # sinks.writers over the persisted TimeSeries, each writer once untimed first
        ts = ts.persist()
        n = ts.count()
        for sink in SINKS:
            write_sink(sink, ts, self.work / "sinks" / f"warm-{sink}")
        for sink in SINKS:
            out = self.work / "sinks" / sink
            with tr.span(f"sinks.{sink}") as sp:
                write_sink(sink, ts, out)
            m[f"sinks.{sink}_s"] = (sp.seconds, "s")
            m[f"sinks.{sink}.bytes_per_reading"] = (sum(p.stat().st_size for p in out.glob("part-*")) / n, "B")
        ts.unpersist()
        parsed.unpersist()
        shutil.rmtree(self.work / "sinks", ignore_errors=True)

        # the whole conversion call, as an espi_many_small operation runs it
        with tr.span("espi.convert.pass") as sp:
            convert(spark, paths, ("parquet",), self.work / "convert")
        for k in ("jobs", "stages", "tasks"):
            m[f"espi.convert.{k}"] = (sp.attrs.get(k, 0), "count")

        # espi.fastpath, and the CLI process around it
        fast_ms, startup_ms = [], []
        for name in good[:8]:
            with tr.span("espi.fastpath.file") as sp:
                convert_file(str(self.corpus_dir / name))
            fast_ms.append(1000 * sp.seconds)
            with tr.span("cli.file") as sp:
                run_cli(self.corpus_dir / name, self.tmp / "cli.csv", self.env)
            startup_ms.append(1000 * sp.seconds - fast_ms[-1])
        m["espi.fastpath.file_ms_p50"] = (statistics.median(fast_ms), "ms")
        m["cli.startup_ms_p50"] = (statistics.median(startup_ms), "ms")
        return m

    # -- entry --------------------------------------------------------------

    def execute(self) -> dict:
        try:
            self.setup()
            metrics = self.traced() if self.trace else self.loop()
        finally:
            self.close()
        failed = sum(1 for o in self.ops if not o.ok)
        return {"correct": failed == 0, "attempted": len(self.ops), "failed": failed, "metrics": metrics}

    def record(self, result: dict) -> dict:
        """Everything needed to read the result without the session that made it."""
        done = [o.seconds for o in self.ops if o.ok and o.kind != "file"]
        detail: dict = {"ops": [(o.kind, o.seconds) for o in self.ops]}
        tail = percentile_with_tail(done)
        if tail:
            detail[f"op_s_p{tail[0]}"] = tail[1]
        if not self.trace and self.workload == "espi_many_small":
            detail["convert_files_per_s"] = result["metrics"]["files_per_s"]["value"]
            one_file = [o.seconds for o in self.ops if o.ok and o.kind == "file"]
            detail["spark_file_s_p50"] = statistics.median(one_file) if one_file else None
        elif not self.trace:
            detail["cli_file_ms_p50"] = 1000 * result["metrics"]["op_s_p50"]["value"]
            if tail:
                detail[f"cli_file_ms_p{tail[0]}"] = 1000 * tail[1]
        return {
            "workload": self.workload,
            "trace": self.trace,
            "result": result,
            "failed_ops_ratio": result["failed"] / result["attempted"],
            "failures": [o.note for o in self.ops if not o.ok][:20],
            "setup_samples_s": self.setups,
            "peak_rss_mb": self.peak_rss_mb,
            "detail": detail,
            "input": {
                "corpus_seed": self.manifest["seed"],
                "corpus_spec": self.manifest["spec"],
                "corpus_files": len(self.manifest["files"]),
                "corpus_readings": self.manifest["readings"],
                "corpus_bytes": self.manifest["bytes"],
                "manifest_sha256": hashlib.sha256((self.corpus_dir / "manifest.json").read_bytes()).hexdigest(),
                "generate_s": self.manifest["generate_s"],
            },
            "trace_note": (
                "per-layer passes run parse, split+denormalize and each sink over "
                "persisted intermediates; their sum is compared with, not equated "
                "to, the untraced conversion"
            ) if self.trace else None,
        }


def dump_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(obj, indent=1, default=str))
