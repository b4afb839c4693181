"""The workloads: what one operation is, how it is timed and how its
output is checked.

Each workload runs in one driver process against ``local[<cores>]``
as a closed loop with one client: the next operation starts when the
previous one has returned and its output has been read.

- ``suite_decode_sink``: the full default suite plus column stats,
  report written to a parquet sink, exact integrity, every payload a
  real encoding in one of four codecs including WebP-lossless (VP8L);
  212-entry dimension.
- ``screen``: the reference's own use. Bulk ``match_captions_arrow``
  over a caption table, then ``get_sanctioned_info`` probes, against a
  reference-sized (15,664-entry) dimension.

The first operation of each kind in a fresh SparkContext pays the
JIT and code generation for its plans. Which operations the metrics
use is each workload's ``measured``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import fixtures
import measure


@dataclass(frozen=True)
class Spec:
    name: str
    rows: int
    probes: int = 0


SPECS = {
    "suite_decode_sink": Spec("suite_decode_sink", 4_000),
    "screen": Spec("screen", 100_000, probes=64),
}

SETUP_CYCLES = 3
# steady operations of each kind in a screen run after the cold one (a
# bulk pass takes ~1.7 s, a probe ~3.5 s); probes go on while --seconds
# has time left. Bulk walls repeat within a run, but probe latency
# still falls over the first few warm calls, so probes get more of the
# run's time.
SCREEN_BULK = 2
SCREEN_PROBES = 4


@dataclass
class Env:
    """Where a run may write, and the settings it hands to Spark."""

    root: str
    cores: int

    @property
    def work(self) -> str:
        return os.path.join(self.root, ".perfbench_work")

    @functools.cached_property
    def cache(self) -> str:
        return os.path.join(self.root, ".perfbench_cache",
                            fixtures.code_hash(self.root))

    def spark(self, event_log: str | None = None):
        from perl_data_validate_sanctions_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)


@dataclass
class Op:
    kind: str
    cold: bool
    wall: float = 0.0
    start: float = 0.0
    end: float = 0.0
    cpu: dict = field(default_factory=dict)
    ok: bool = True
    parts: dict = field(default_factory=dict)


@dataclass
class Run:
    env: Env
    spec: Spec
    seed: int
    tracer: measure.Tracer
    tree: measure.ProcTree = field(default_factory=measure.ProcTree)
    ops: list[Op] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    setups: list[float] = field(default_factory=list)
    session_starts: list[float] = field(default_factory=list)
    fixture_s: float = 0.0
    peak_rss: int = 0

    def fail(self, msg: str) -> None:
        self.problems.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)

    def timed(self, kind: str, fn, cold: bool) -> Op:
        """Run one operation, recording wall, CPU split and, traced,
        peak RSS (sampling /proc costs CPU, so untraced runs skip it).
        An exception fails the operation, not the run."""
        op = Op(kind, cold)
        cpu0 = self.tree.cpu()
        rss = measure.PeakRss(self.tree) if self.tracer.enabled else None
        op.start = time.time()
        t0 = time.perf_counter()
        with rss or contextlib.nullcontext():
            with self.tracer.span(kind, op=f"{kind}-{len(self.ops)}"):
                try:
                    op.parts = fn() or {}
                except Exception:  # noqa: BLE001 - counted as a failed op
                    op.ok = False
                    self.fail(f"{kind} raised:\n{traceback.format_exc()}")
        op.wall = time.perf_counter() - t0
        op.end = time.time()
        op.cpu = measure.cpu_delta(cpu0, self.tree.cpu())
        if rss is not None:
            self.peak_rss = max(self.peak_rss, rss.peak)
        self.ops.append(op)
        return op

    def loop(self, kind: str, fn, check, until: float, min_steady: int) -> None:
        """The cold operation, then steady ones until ``until`` (at
        least ``min_steady``)."""
        check(self.timed(kind, fn, cold=True))
        n = 0
        while n < min_steady or time.perf_counter() < until:
            check(self.timed(kind, fn, cold=False))
            n += 1


def _warm_worker(batches):
    import perl_data_validate_sanctions_spark.checks.integrity  # noqa: F401
    import perl_data_validate_sanctions_spark.operators.matcher_arrow  # noqa: F401

    yield from batches


def fan_out(spark, cores: int) -> None:
    """Spawn a Python worker on every core with the package's codec and
    matcher modules imported: a one-partition warm-up would warm one
    worker and leave the first timed operation to start the rest."""
    n = 4 * cores
    spark.range(n, numPartitions=n).mapInPandas(_warm_worker, "id long").count()


class Suite:
    """suite_decode_sink. One operation is ``run_validation`` with a
    parquet report sink, plus reading its report back.

    Validation runs once per process in its nightly use, so the
    metrics come from the first pass after set-up; passes that still
    fit in the measuring time are checked and recorded only."""

    bulk_kind = point_kind = "suite"

    @staticmethod
    def measured(ops: list[Op], kind: str) -> list[Op]:
        return [o for o in ops if o.kind == kind and o.cold]

    def __init__(self, run: Run):
        self.run = run
        self.spec = run.spec

    def fixture(self, spark) -> None:
        self.path, self.manifest = fixtures.images_fixture(
            spark, self.run.env.cache, self.spec.name, self.spec.rows,
            self.run.seed)

    @property
    def rows(self) -> int:
        return self.manifest["rows"]

    def open(self, spark) -> None:
        from perl_data_validate_sanctions_spark.sources.synth import (
            PLACES, synth_entries)

        self.spark = spark
        self.images = spark.read.parquet(os.path.join(self.path, "images.parquet"))
        self.entries = synth_entries(spark, n_extra=fixtures.SUITE_DIM_EXTRA)
        self.ref_keys = spark.createDataFrame([(p,) for p in PLACES], "key string")

    def suite(self, serial: bool = False) -> dict:
        """One pass: concurrent with a parquet sink, or (``serial``)
        the in-memory, ``concurrent=False`` reference pass."""
        from perl_data_validate_sanctions_spark.plans.runner import run_validation

        sink_dir = None
        if not serial:
            sink_dir = os.path.join(self.run.env.work, "sink", str(len(self.run.ops)))
            shutil.rmtree(sink_dir, ignore_errors=True)
        tr = self.run.tracer
        t0 = time.perf_counter()
        with tr.span("plans.run_validation"):
            report = run_validation(
                self.images, entries=self.entries, ref_keys=self.ref_keys,
                concurrent=not serial, sink_dir=sink_dir)
        t1 = time.perf_counter()
        with tr.span("plans.report_read"):
            verdicts = [list(r) for r in report.partition_verdicts.collect()]
            summary = [list(r) for r in report.check_summary.collect()]
            if report.stats is not None:
                report.stats.collect()
        return {"call_s": t1 - t0, "read_s": time.perf_counter() - t1,
                "verdicts": verdicts, "summary": summary,
                "report": report, "sink_dir": sink_dir}

    def operate(self, until: float) -> None:
        self.run.loop("suite", self.suite, self._after, until, min_steady=0)

    def _after(self, op: Op) -> None:
        """Untimed follow-up of one operation: every planted corruption
        and every drifted partition must be reported; then the report's
        blocks or sink files go."""
        from pyspark.sql import functions as F

        from perl_data_validate_sanctions_spark.sources.synth import DRIFT_PARTS

        report, sink_dir = op.parts.pop("report", None), op.parts.pop("sink_dir", None)
        if report is None:
            return
        rows = report.violations.filter(
            (F.col("check") == "integrity") | F.col("check").startswith("drift_")
        ).select("check", "column", "partition_id", "image_id").collect()
        found = {r[3] for r in rows if r[0] == "integrity"}
        missing = set(self.manifest["planted_corrupt_ids"]) - found
        if missing:
            op.ok = False
            self.run.fail(f"{op.kind}: {len(missing)} planted corruptions not "
                          f"reported, e.g. {sorted(missing)[:3]}")
        for column in ("w", "h", "fmt"):
            unflagged = set(DRIFT_PARTS) - {
                r[2] for r in rows if r[0] != "integrity" and r[1] == column}
            if unflagged:
                op.ok = False
                self.run.fail(f"{op.kind}: drift on {column} missed drifted "
                              f"partitions {sorted(unflagged)}")
        if sink_dir:
            files = [os.path.join(d, f) for d, _, fs in os.walk(sink_dir)
                     for f in fs if f.endswith(".parquet")]
            op.parts["sink_files"] = len(files)
            op.parts["sink_mb"] = sum(os.path.getsize(f) for f in files) / 1e6
            shutil.rmtree(sink_dir, ignore_errors=True)
        else:
            report.violations.unpersist()

    def verify(self) -> None:
        """Every operation's verdicts and summary must equal those of
        one serial, in-memory pass (serial = concurrent, sink =
        in-memory). The pass runs after the timed operations of the
        first run on a fixture and is kept beside it; the cache key
        holds the code hash, so a change to the package runs it again."""
        path = os.path.join(self.path, "reference.json")
        try:
            with open(path) as f:
                ref = json.load(f)
        except FileNotFoundError:
            op = Op("reference", cold=False, parts=self.suite(serial=True))
            self._after(op)
            if not op.ok:
                return
            ref = {"verdicts": op.parts["verdicts"], "summary": op.parts["summary"]}
            dups = dict(ref["summary"]).get("unique_image_id", 0)
            if dups != self.manifest["dup_id_rows"]:
                self.run.fail(f"reference: unique_image_id={dups} != planted "
                              f"duplicate rows {self.manifest['dup_id_rows']}")
                return
            with open(path, "w") as f:
                json.dump(ref, f)
        for op in self.run.ops:
            if op.ok and (op.parts["verdicts"], op.parts["summary"]) != (
                    ref["verdicts"], ref["summary"]):
                op.ok = False
                self.run.fail("suite: report differs from the serial in-memory pass")


class Screen:
    """Bulk screening of the caption table, then point probes. A
    screening service stays up, so the metrics come from the steady
    operations after the first of each kind."""

    bulk_kind, point_kind = "bulk", "probe"

    @staticmethod
    def measured(ops: list[Op], kind: str) -> list[Op]:
        return [o for o in ops if o.kind == kind and not o.cold]

    def __init__(self, run: Run):
        self.run = run
        self.spec = run.spec

    def fixture(self, spark) -> None:
        self.path, self.manifest = fixtures.screen_fixture(
            spark, self.run.env.cache, self.spec.rows, self.run.seed,
            self.spec.probes)
        self.expected = [list(r) for r in self.manifest["native_matches"]]

    @property
    def rows(self) -> int:
        return self.manifest["rows"]

    def open(self, spark) -> None:
        from perl_data_validate_sanctions_spark.api import SanctionsValidator

        self.spark = spark
        self.captions = spark.read.parquet(os.path.join(self.path, "captions.parquet"))
        self.entries = spark.read.parquet(fixtures.dimension_path(self.run.env.cache))
        self.validator = SanctionsValidator(spark, entries=self.entries)
        self.next_probe = 0

    def bulk(self) -> dict:
        from perl_data_validate_sanctions_spark.operators.matcher_arrow import (
            match_captions_arrow)

        with self.run.tracer.span("operators.match_captions_arrow"):
            rows = match_captions_arrow(self.captions, self.entries).collect()
        return {"rows": sorted(list(r) for r in rows)}

    def probe(self, p: dict | None = None) -> dict:
        if p is None:
            probes = self.manifest["probes"]
            p = probes[self.next_probe % len(probes)]
            self.next_probe += 1
        with self.run.tracer.span("api.get_sanctioned_info"):
            v = self.validator.get_sanctioned_info(
                first_name=p["first"], last_name=p["last"], date_of_birth=p["dob"])
        return {"matched": v["matched"], "list": v.get("list"), "probe": p}

    def operate(self, until: float) -> None:
        self.run.loop("bulk", self.bulk, self._check_bulk, 0.0, min_steady=SCREEN_BULK)
        self.run.loop("probe", self.probe, self._check_probe, until,
                      min_steady=SCREEN_PROBES)

    def _check_bulk(self, op: Op) -> None:
        rows = op.parts.pop("rows", None)
        if op.ok and rows != self.expected:
            op.ok = False
            self.run.fail("bulk: Arrow rows differ from native match_captions")

    def _check_probe(self, op: Op) -> None:
        p = op.parts.get("probe")
        if op.ok and [op.parts["matched"], op.parts["list"]] != [p["matched"], p["list"]]:
            op.ok = False
            self.run.fail(f"probe {p}: got matched={op.parts['matched']} "
                          f"list={op.parts['list']}")

    def verify(self) -> None:
        """Bulk rows and probe verdicts are checked per operation."""


WORKLOADS = {"suite_decode_sink": Suite, "screen": Screen}


def setup(run: Run, wl, event_log: str | None) -> None:
    """SETUP_CYCLES × (session start + open the cached inputs + fan-out
    warm-up). Each cycle starts a new SparkContext, whose Python
    workers the warm-up spawns afresh; the first cycle also launches
    the JVM, and builds the fixture if it is not cached (that build is
    not set-up time). Each cycle but the last ends by stopping the
    session."""
    spark = None
    for cycle in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with run.tracer.span("session.start", op=f"setup-{cycle}"):
            spark = run.env.spark(event_log)
        t1 = time.perf_counter()
        if cycle == 0:
            wl.fixture(spark)
            run.fixture_s = time.perf_counter() - t1
        with run.tracer.span("setup.open_warm", op=f"setup-{cycle}"):
            wl.open(spark)
            fan_out(spark, run.env.cores)
        run.setups.append(time.perf_counter() - t0 - (run.fixture_s if cycle == 0 else 0))
        run.session_starts.append(t1 - t0)
