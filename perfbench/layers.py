"""The traced run: per-layer metrics for one workload.

The run sets up as the untraced one does, with the Spark event log on
from the first session. It then runs the workload's operations with
spans on, calls each layer alone, and checks the outputs. Spans come
from the benchmark's own calls into the package; the package itself
is not instrumented.

Every metric in ``NAMES`` is reported for every workload; a layer a
workload does not exercise reports 0 (see README.md).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

import fixtures
import measure
from workloads import Op, Run

CODECS = fixtures.REAL_CODECS
KERNELS = ("jpeg_scan_c", "png_unfilter_c", "mse_c", "webp_sys")
CHECKS = ("schema", "unique_image_id", "unique_phash", "referential",
          "drift_w", "drift_h", "drift_fmt", "integrity", "column_stats")
SPARK = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
         "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "straggler_ratio")
DECODE_SAMPLE = 64

NAMES = {
    "session.start_s": "s", "session.jvm_launch_s": "s", "session.first_op_ms": "ms",
    "machine.probe_mpxs": "Mpx/s",
    **{f"sources.real_decode_us.{c}": "us" for c in CODECS},
    **{f"sources.kernel_live.{k}": "bool" for k in KERNELS},
    **{f"sources.payload_share.{c}": "fraction" for c in CODECS},
    **{f"sources.decode_share.{c}": "fraction" for c in CODECS},
    **{f"checks.{c}_s": "s" for c in CHECKS},
    **{f"checks.{c}_rows": "count" for c in CHECKS},
    **{f"checks.integrity_{c}_s": "s" for c in CODECS},
    "operators.match_arrow_s": "s", "operators.match_arrow_rows": "count",
    "operators.match_native_s": "s", "operators.name_dim_s": "s",
    "operators.match_probes_ms": "ms", "api.overhead_ms": "ms",
    "runner.call_s": "s", "runner.report_read_s": "s", "runner.overlap": "ratio",
    "runner.input_scans": "count", "runner.sink_files": "count",
    "runner.sink_mb": "MB",
    **{f"spark.{k}": ("count" if k in ("jobs", "stages", "tasks") else
                      "ratio" if k == "straggler_ratio" else
                      "MB" if k.endswith("_mb") else "s") for k in SPARK},
    "spark.probe_jobs": "count", "spark.probe_stages": "count",
    "spark.probe_tasks": "count",
    "proc.driver_py_cpu_s": "s", "proc.jvm_cpu_s": "s",
    "proc.py_worker_cpu_s": "s", "proc.core_util": "fraction",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_share": "fraction", "trace.harness_self_ms": "ms",
    "trace.spans": "count",
}


def _part():
    from perl_data_validate_sanctions_spark.sources.synth import logical_partition

    return logical_partition("image_id")


def _timed_call(run: Run, name: str, fn) -> tuple[float, int]:
    """(wall s, rows) of one isolated call."""
    t0 = time.perf_counter()
    with run.tracer.span(name, op=name):
        rows = fn()
    return time.perf_counter() - t0, rows


def _noop_rows(df) -> int:
    """Write ``df`` to the noop sink, counting rows on the way."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("rows")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite").save()
    return int(obs.get["n"])


def _codec_slices() -> dict:
    """Row filter per real codec; WebP's two flavours differ in the
    chunk tag at byte 12 (``VP8L`` for lossless)."""
    from pyspark.sql import functions as F

    is_vp8l = F.hex(F.substring("bytes", 13, 4)) == "5650384C"
    return {"png": F.col("fmt") == "png", "jpeg": F.col("fmt") == "jpeg",
            "webp_lossy": (F.col("fmt") == "webp") & ~is_vp8l,
            "webp_lossless": (F.col("fmt") == "webp") & is_vp8l}


def _decode_us(wl, m: dict) -> None:
    """Single-thread ``codec.real_decode`` over a sample of the
    workload's intact payloads, per codec."""
    from perl_data_validate_sanctions_spark.sources import codec

    planted = set(wl.manifest["planted_corrupt_ids"])
    total = {}
    for c, cond in _codec_slices().items():
        rows = wl.images.filter(cond).select("image_id", "bytes").limit(
            2 * DECODE_SAMPLE).collect()
        blobs = [bytes(b) for i, b in rows if i not in planted][:DECODE_SAMPLE]
        if not blobs:
            continue
        codec.real_decode(blobs[0])
        t0 = time.perf_counter()
        for b in blobs:
            codec.real_decode(b)
        us = (time.perf_counter() - t0) / len(blobs) * 1e6
        m[f"sources.real_decode_us.{c}"] = us
        total[c] = us * wl.manifest["codec_rows"].get(c, 0)
    for c, t in total.items():
        m[f"sources.decode_share.{c}"] = t / sum(total.values())


def suite_layers(run: Run, wl, m: dict, traced_ops: list[Op]) -> None:
    """Each public check alone on the workload's table (and integrity
    on each codec's rows), then the matcher paths."""
    from perl_data_validate_sanctions_spark.checks.drift import drift_check
    from perl_data_validate_sanctions_spark.checks.integrity import integrity_violations
    from perl_data_validate_sanctions_spark.checks.referential import (
        referential_violations)
    from perl_data_validate_sanctions_spark.checks.schema_check import schema_violations
    from perl_data_validate_sanctions_spark.checks.stats import column_stats
    from perl_data_validate_sanctions_spark.checks.unique import uniqueness_violations
    from perl_data_validate_sanctions_spark.plans.runner import caption_key_expr
    from perl_data_validate_sanctions_spark.sources.synth import expected_caption

    img, part_ = wl.images, _part()
    calls = {
        "schema": lambda: schema_violations(img, part_),
        "unique_image_id": lambda: uniqueness_violations(img, "image_id",
                                                         partition_expr=part_),
        "unique_phash": lambda: uniqueness_violations(img, "phash",
                                                      partition_expr=part_),
        "referential": lambda: referential_violations(
            img, caption_key_expr(), wl.ref_keys, partition_expr=part_),
        "drift_w": lambda: drift_check(img, "w", part_, kind="ks"),
        "drift_h": lambda: drift_check(img, "h", part_, kind="ks"),
        "drift_fmt": lambda: drift_check(img, "fmt", part_, kind="chi2"),
        "integrity": lambda: integrity_violations(
            img, part_, expected_caption("image_id")),
        "column_stats": lambda: column_stats(img),
    }
    check_s = 0.0
    for name, build in calls.items():
        wall, rows = _timed_call(run, f"checks.{name}", lambda: _noop_rows(build()))
        m[f"checks.{name}_s"], m[f"checks.{name}_rows"] = wall, rows
        check_s += wall
    for c, cond in _codec_slices().items():
        if wl.manifest["codec_rows"].get(c):
            real = img.filter(cond)
            m[f"checks.integrity_{c}_s"] = _timed_call(
                run, f"checks.integrity_{c}", lambda: _noop_rows(
                    integrity_violations(real, part_, expected_caption("image_id"))))[0]
    arrow_s = _operators(run, wl, img, m)
    check_s += arrow_s
    m["runner.overlap"] = check_s / measure.median(o.wall for o in traced_ops)
    _decode_us(wl, m)
    rows = wl.rows
    for c in CODECS:
        m[f"sources.payload_share.{c}"] = wl.manifest["codec_rows"].get(c, 0) / rows
    m["runner.call_s"] = measure.median(o.parts["call_s"] for o in traced_ops)
    m["runner.report_read_s"] = measure.median(o.parts["read_s"] for o in traced_ops)
    m["runner.sink_files"] = measure.median(o.parts["sink_files"] for o in traced_ops)
    m["runner.sink_mb"] = measure.median(o.parts["sink_mb"] for o in traced_ops)


def _operators(run: Run, wl, table, m: dict) -> float:
    """Arrow and native caption matchers and the name dimension, alone.
    Returns the Arrow matcher's wall time."""
    from perl_data_validate_sanctions_spark.operators.matcher import (
        build_name_dim, match_captions)
    from perl_data_validate_sanctions_spark.operators.matcher_arrow import (
        match_captions_arrow)

    wall, rows = _timed_call(
        run, "operators.match_captions_arrow",
        lambda: len(match_captions_arrow(table, wl.entries).collect()))
    m["operators.match_arrow_s"], m["operators.match_arrow_rows"] = wall, rows
    m["operators.match_native_s"] = _timed_call(
        run, "operators.match_captions",
        lambda: len(match_captions(table, wl.entries).collect()))[0]
    m["operators.name_dim_s"] = _timed_call(
        run, "operators.build_name_dim",
        lambda: build_name_dim(wl.entries).count())[0]
    return wall


API_PROBES = 2


def screen_layers(run: Run, wl, m: dict, traced_ops: list[Op]) -> None:
    """The matchers alone, then ``match_probes`` against
    ``get_sanctioned_info`` on the same probes."""
    from perl_data_validate_sanctions_spark.operators.matcher import match_probes
    from perl_data_validate_sanctions_spark.schema import PROBE_SCHEMA

    _operators(run, wl, wl.captions, m)
    cols = PROBE_SCHEMA.fieldNames()
    direct, overhead = [], []
    for p in wl.manifest["probes"][:API_PROBES]:
        row = {c: None for c in cols}
        row.update(probe_id="probe", first_name=p["first"], last_name=p["last"],
                   date_of_birth=p["dob"])
        probe = wl.spark.createDataFrame([tuple(row[c] for c in cols)], PROBE_SCHEMA)
        t_mp = _timed_call(run, "operators.match_probes", lambda: len(
            match_probes(probe, wl.entries).select("verdict").collect()))[0]
        t_api = _timed_call(run, "api.get_sanctioned_info",
                            lambda: wl.probe(p) and 1)[0]
        direct.append(t_mp * 1e3)
        overhead.append((t_api - t_mp) * 1e3)
    m["operators.match_probes_ms"] = measure.median(direct)
    m["api.overhead_ms"] = measure.median(overhead)


def _log_dir(run: Run) -> str:
    return os.path.join(run.env.work, "eventlog", f"{run.spec.name}-{run.seed}")


def event_log_dir(run: Run) -> str:
    """A fresh event-log directory for a traced run."""
    shutil.rmtree(_log_dir(run), ignore_errors=True)
    return _log_dir(run)


def traced(run: Run, wl, untraced_record: str) -> dict:
    """The workload's operations with spans on (the event log has been
    on since set-up), then each layer alone, then the output checks.
    The tracing overhead compares the traced operations with those of
    the untraced run on the same seed, when its record is present."""
    m = dict.fromkeys(NAMES, 0.0)
    bulk = wl.bulk_kind
    wl.operate(time.perf_counter())
    traced_ops = wl.measured(run.ops, bulk)
    probes = wl.measured(run.ops, "probe")
    (screen_layers if bulk == "bulk" else suite_layers)(run, wl, m, traced_ops)
    wl.verify()
    wl.spark.stop()

    events = []
    for path in glob.glob(os.path.join(_log_dir(run), "*")):
        events += measure.read_event_log(path)
    per_op = measure.rollup(events, [(o.start, o.end) for o in traced_ops],
                            os.path.basename(wl.path))
    for k in SPARK:
        m[f"spark.{k}"] = measure.median(getattr(r, k) for r in per_op)
    if bulk == "suite":
        m["runner.input_scans"] = measure.median(r.input_scans for r in per_op)
    if probes:
        per_probe = measure.rollup(events, [(o.start, o.end) for o in probes])
        m["spark.probe_jobs"] = measure.median(r.jobs for r in per_probe)
        m["spark.probe_stages"] = measure.median(r.stages for r in per_probe)
        m["spark.probe_tasks"] = measure.median(r.tasks for r in per_probe)

    for role in ("driver_py", "jvm", "py_worker"):
        m[f"proc.{role}_cpu_s"] = measure.median(o.cpu[role] for o in traced_ops)
    m["proc.core_util"] = measure.median(
        sum(o.cpu.values()) / (o.wall * run.env.cores) for o in traced_ops)
    m["proc.peak_rss_mb"] = run.peak_rss / 1e6
    m["session.start_s"] = measure.median(run.session_starts)
    m["session.jvm_launch_s"] = run.session_starts[0]
    m["session.first_op_ms"] = next(
        o.wall for o in run.ops if o.kind == wl.point_kind) * 1e3
    for k, live in zip(KERNELS, _kernels()):
        m[f"sources.kernel_live.{k}"] = live
    try:
        with open(untraced_record) as f:
            base = json.load(f)["measured_walls"]
        m["trace.overhead_share"] = (measure.median(o.wall for o in traced_ops)
                                     / measure.median(base) - 1)
    except FileNotFoundError:
        print("perfbench: no untraced run on this seed; tracing overhead not measured",
              file=sys.stderr)
    selfs = measure.self_times(run.tracer.spans)
    m["trace.harness_self_ms"] = measure.median(
        selfs[s.id] * 1e3 for s in run.tracer.spans if s.name in (bulk, "probe"))
    m["trace.spans"] = len(run.tracer.spans)
    return {k: (float(v), NAMES[k]) for k, v in m.items()}


def _kernels() -> tuple[int, int, int, int]:
    from perl_data_validate_sanctions_spark.sources import (
        jpeg_scan_c, mse_c, png_unfilter_c, webp_sys)

    return tuple(int(bool(k.available())) for k in (
        jpeg_scan_c, png_unfilter_c, mse_c, webp_sys))
