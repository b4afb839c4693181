"""The check registry + validation runner.

Generalizes the reference's top-level flow (`update_data` →
per-source fetch/parse/verify with per-source error isolation and
pass/fail bookkeeping, /root/reference/lib/Data/Validate/Sanctions.pm:
52-90 and Fetcher.pm:814-863) to: run every registered constraint check
over the images table, union their violation rows, and roll them up
into per-partition pass/fail verdicts (the per-source {updated,
verified, error} analog at partition granularity).

Partition granularity is the *logical* partition
``pmod(xxhash64(image_id), N_LOGICAL_PARTS)`` — stable under any
physical layout or cluster size (verdicts must not change when the
executor count does). On a real Iceberg deployment this maps to the
table's partition spec."""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checks.drift import drift_from_hist, drift_violations
from ..checks.integrity import integrity_violations
from ..checks.referential import referential_violations
from ..checks.schema_check import schema_violations
from ..checks.stats import column_stats
from ..checks.unique import uniqueness_violations
from ..operators.matcher import match_captions
from ..operators.matcher_arrow import match_captions_arrow
from ..schema import VIOLATION_SCHEMA
from ..sources.synth import expected_caption, logical_partition

DEFAULT_CHECKS = (
    "schema",
    "unique_image_id",
    "unique_phash",
    "referential",
    "drift_w",
    "drift_h",
    "drift_fmt",
    "integrity",
    "sanctioned",
)

# opt-in (not in DEFAULT_CHECKS, so the sink oracle's expected rollup
# stays stable): PSI on the format mix — the band-based alternative to
# drift_fmt's chi-square, fed from the SAME cube, so enabling it adds
# no table scan. run_validation(checks=DEFAULT_CHECKS + ("drift_psi_fmt",))
PSI_CHECK = "drift_psi_fmt"

# captions look like "... in <Place>"; the trailing token is the
# caption-side foreign key checked against the places dimension
CAPTION_KEY_RE = r" in (\p{L}+)$"

# "auto" match-strategy budget: max sanction-dimension ENTRY rows for
# which the worker-local Arrow index (sparkContext.broadcast dict,
# matcher_arrow._MatcherIndex) is used. Sized from memory, not speed:
# ~500k entries × ~3 aliases × ~100 B ≈ 150 MB per Python worker —
# the outer edge of a sane per-worker broadcast. The reference ships
# 15,664 entries (share/sanctions.yml), 30× inside the budget; its own
# design makes the same bet (the whole dataset is an in-process hash,
# Sanctions.pm:253-315 — there is no out-of-core path to mirror).
AUTO_ARROW_DIM_MAX_ENTRIES = 500_000


def resolve_match_strategy(
    n_dim_entries: int, n_rows: int | None = None
) -> str:
    """The SCALING.md crossover rule (round-5 measured), as code.

    Arrow won EVERY measured cell of the (rows × dimension) grid —
    600 k and 2.4 M rows, 212-alias and 15,664-entry dimensions,
    standalone and inside the concurrent suite — and the native path's
    candidate-aggregation state grows superlinearly with row count at
    full dimension (65-94 s vs Arrow's 9-12.5 s at 2.4 M), so MORE
    rows reinforce, never flip, the choice. The one axis that flips
    it is dimension size: beyond the worker-local index memory budget
    the Arrow screen's broadcast dict no longer fits, and the native
    path — whose token index is a relational join Catalyst can
    degrade from broadcast to shuffle — is the only shape that
    survives. ``n_rows`` is accepted (and recorded by callers) so the
    rule's signature matches the grid it was measured on."""
    del n_rows  # measured: row count never flips the choice
    if n_dim_entries > AUTO_ARROW_DIM_MAX_ENTRIES:
        return "native"
    return "arrow"


def caption_key_expr() -> Column:
    k = F.regexp_extract(F.col("caption"), CAPTION_KEY_RE, 1)
    return F.when(k != "", k)


@dataclass
class ValidationReport:
    violations: DataFrame
    partition_verdicts: DataFrame
    check_summary: DataFrame
    stats: DataFrame | None = None
    drift_results: dict[str, DataFrame] = field(default_factory=dict)


@dataclass(frozen=True)
class _Inputs:
    """The run_validation arguments a check builder reads."""

    images: DataFrame
    part: Column
    entries: DataFrame | None
    ref_keys: DataFrame | None
    exp_cap: Column
    pixel_sample: int | None
    match_strategy: str


def _sanctioned(c: _Inputs) -> DataFrame | None:
    if c.entries is None:
        return None
    strategy = c.match_strategy
    if strategy == "auto":
        # one count() job on the (small) dimension table; the rule
        # itself is resolve_match_strategy — kept pure and
        # pytest-pinned at both dimension scales
        strategy = resolve_match_strategy(c.entries.count())
    matcher = match_captions_arrow if strategy == "arrow" else match_captions
    # a sanctioned caption is a violation row (the reference's
    # {matched: 1} verdict, re-framed as a constraint failure); the
    # logical partition derives from image_id alone, so no join back to
    # the table is needed
    return matcher(c.images, c.entries).select(
        F.lit("sanctioned").alias("check"),
        c.part.cast("int").alias("partition_id"),
        F.col("image_id").cast("string"),
        F.lit("caption").alias("column"),
        F.concat(F.lit("matched "), "matched_name", F.lit(" on "), "list")
        .alias("detail"),
    ).to(VIOLATION_SCHEMA)


# the non-drift checks: name → VIOLATION_SCHEMA plan (None when the
# check's input was not given). Registry order is the union order.
_BUILDERS: dict[str, Callable[[_Inputs], DataFrame | None]] = {
    "schema": lambda c: schema_violations(c.images, c.part),
    "unique_image_id": lambda c: uniqueness_violations(
        c.images, "image_id", partition_expr=c.part
    ),
    "unique_phash": lambda c: uniqueness_violations(
        c.images, "phash", partition_expr=c.part
    ),
    "referential": lambda c: None if c.ref_keys is None else referential_violations(
        c.images, caption_key_expr(), c.ref_keys, partition_expr=c.part
    ),
    "integrity": lambda c: integrity_violations(
        c.images, c.part, c.exp_cap, pixel_sample=c.pixel_sample
    ),
    "sanctioned": _sanctioned,
}

# the drift checks read the cube, not the table:
# (check name, column, test kind, drift_results key)
_DRIFT = (
    ("drift_w", "w", "ks", "w"),
    ("drift_h", "h", "ks", "h"),
    ("drift_fmt", "fmt", "chi2", "fmt"),
    (PSI_CHECK, "fmt", "psi", "fmt_psi"),
)


def _materialize(name: str, df: DataFrame, path: str | None = None) -> DataFrame:
    """Run ``df`` as ONE Spark job named ``name``: an eager
    localCheckpoint, or — with ``path`` — a parquet write read back
    under the same schema. run_validation starts every job through
    here, from its one thread pool — apart from the dimension count()
    behind ``match_strategy="auto"``."""
    sc = df.sparkSession.sparkContext
    # spark.scheduler.mode=FAIR schedules fairly BETWEEN pools, and the
    # pool is chosen by a thread-local property — without this, every
    # job lands in the single "default" pool whose internal order is
    # FIFO, and the light checks' small stages queue behind the long
    # mapInPandas stages. Pools are auto-created on first use; no
    # allocation file needed.
    sc.setLocalProperty("spark.scheduler.pool", name)
    sc.setJobDescription(name)
    if path is None:
        # eager localCheckpoint, not .cache(): a cache entry would
        # outlive the report in the session CacheManager (repeated
        # run_validation calls leak), while checkpoint blocks are
        # reclaimed when the report's plans are garbage-collected
        return df.localCheckpoint(eager=True)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def run_validation(
    images: DataFrame,
    entries: DataFrame | None = None,
    ref_keys: DataFrame | None = None,
    checks: tuple[str, ...] = DEFAULT_CHECKS,
    partition_expr: Column | None = None,
    match_strategy: str = "auto",
    expected_caption_expr: Column | None = None,
    with_stats: bool = True,
    pixel_sample: int | None = None,
    concurrent: bool = True,
    sink_dir: str | None = None,
) -> ValidationReport:
    """Run the registered checks and roll violations into per-partition
    verdicts.

    ``sink_dir``: when set, the violation rows are WRITTEN to
    ``{sink_dir}/violations.parquet`` (the rollups to
    ``partition_verdicts.parquet`` / ``check_summary.parquet``, and —
    when ``with_stats`` — the per-column metrics to ``stats.parquet``)
    and the returned report's DataFrames read back from those tables —
    the production shape at 10^12 rows, where verdict/violation/metric
    artifacts land in tables, not the driver. Default (None) keeps the
    collect-friendly localCheckpoint-backed report.

    ``match_strategy``: ``"auto"`` (default) applies the measured
    SCALING.md crossover rule via :func:`resolve_match_strategy` —
    the Arrow screen whenever the dimension fits the worker-local
    index budget (it won every measured (rows × dim) cell), the
    native relational path beyond it (the only shape whose token-index
    join Catalyst can degrade from broadcast to shuffle when the
    dimension outgrows broadcast). Explicit ``"arrow"`` / ``"native"``
    override the rule — e.g. native when Python worker slots are the
    scarce resource or when the verdicts feed further JVM-side
    relational logic without an Arrow hop; the two paths are
    output-identical by pinned contract.

    ``concurrent`` (default): the cube, each check, the fused drift
    piece, the stats and the sink writes each run as their OWN Spark
    job (:func:`_materialize`) from one driver thread pool, then the
    union reads the materialized pieces. A single union-of-9-branches
    job executes its AQE query stages largely sequentially, so suite
    wall time degenerates to the SUM of branch latencies; concurrent
    jobs share the task slots and bring it down to ~max(branch).
    ``concurrent=False`` is the same path with one pool worker: the
    same jobs, one after another. Same results either way — only job
    overlap changes."""
    part = partition_expr if partition_expr is not None else logical_partition("image_id")
    if expected_caption_expr is None:
        expected_caption_expr = expected_caption("image_id")
    inputs = _Inputs(images, part, entries, ref_keys, expected_caption_expr,
                     pixel_sample, match_strategy)
    spark = images.sparkSession
    drift_results: dict[str, DataFrame] = {}
    # one worker per job that can be in flight: cube, checks, drift, stats
    ex = ThreadPoolExecutor(max_workers=len(_BUILDERS) + 3 if concurrent else 1)

    def submit(name: str, df: DataFrame, sink: bool = False):
        path = os.path.join(sink_dir, f"{name}.parquet") if sink else None
        return ex.submit(_materialize, name, df, path)

    try:
        # ONE scan builds the (partition, w, h, fmt) data cube; the
        # drift histograms AND the per-partition row counts all derive
        # from it without touching the table again (w/h/fmt are
        # low-cardinality, so the cube is tiny). Its job starts first,
        # so it overlaps the driver-side plan construction below.
        cube_fut = submit("cube", images.groupBy(
            part.cast("int").alias("partition_id"), "w", "h", "fmt"
        ).agg(F.count(F.lit(1)).alias("n")))
        futures = []
        for name, build in _BUILDERS.items():
            df = build(inputs) if name in checks else None
            if df is not None:
                futures.append(submit(name, df))
        # the one-pass column stats are an independent scan the caller
        # reads anyway, so the job overlaps the checks
        stats_fut = submit("stats", column_stats(images)) if with_stats else None

        # drift comes LAST: its plans need the materialized cube. The
        # branches are tiny (cube-derived histograms) and fuse into ONE
        # job — separate jobs each paid driver latency; the `check`
        # column still tells drift_w/h/fmt apart in the rollup.
        cube = cube_fut.result()
        drift_pieces = []
        for name, col, kind, key in _DRIFT:
            if name in checks:
                hist = cube.filter(F.col(col).isNotNull()).groupBy(
                    "partition_id", F.col(col).alias("value")
                ).agg(F.sum("n").alias("n"))
                drift_results[key] = drift_from_hist(hist, col, kind=kind)
                drift_pieces.append(drift_violations(drift_results[key]))
        if drift_pieces:
            fused = reduce(DataFrame.unionByName, drift_pieces)
            futures.append(submit("drift(fused)", fused))

        pieces = [f.result() for f in futures]
        stats_df = stats_fut.result() if stats_fut is not None else None
        if pieces:
            # the union of the materialized pieces carries the SUM of
            # their partition counts (~300 at 32 cores) — every
            # downstream consumer (two rollups + the caller's reads, or
            # the sink write) would launch that many near-empty tasks,
            # and the sink would land that many tiny files. The pieces
            # are checkpointed, so this narrow coalesce to the session's
            # parallelism cannot reach back into a check's own stages;
            # it bounds task and file count without a shuffle (violation
            # rows are a tiny fraction of the input; ordering is
            # irrelevant to the rollups).
            violations = reduce(DataFrame.unionByName, pieces).coalesce(
                spark.sparkContext.defaultParallelism
            )
        else:
            violations = spark.createDataFrame([], VIOLATION_SCHEMA)
        if sink_dir is not None:
            # production sink: violations land in a parquet table and
            # every downstream rollup scans the table — no driver-held
            # blocks
            violations = submit("violations", violations, sink=True).result()
        else:
            # lazy localCheckpoint (materializes at the first action,
            # reused by the rollup, summary and caller reads): like the
            # pieces' checkpoints, its blocks die with the report, so a
            # consumer that never calls unpersist() — the CLI, a
            # notebook loop — cannot leak executor storage
            violations = violations.localCheckpoint(eager=False)

        rows_per_part = cube.groupBy("partition_id").agg(F.sum("n").alias("n_rows"))
        fails_per_part = violations.groupBy("partition_id").agg(
            F.count(F.lit(1)).alias("n_violations"),
            F.count_distinct(
                F.when(F.col("image_id").isNotNull(), F.col("image_id"))
            ).alias("n_fail_rows"),
        )
        partition_verdicts = (
            rows_per_part.join(fails_per_part, "partition_id", "left")
            .fillna(0, ["n_violations", "n_fail_rows"])
            .withColumn("n_pass_rows", F.col("n_rows") - F.col("n_fail_rows"))
            .withColumn("passed", F.col("n_violations") == 0)
            .orderBy("partition_id")
        )
        check_summary = (
            violations.groupBy("check")
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .orderBy("check")
        )
        if sink_dir is not None:
            # the rollups (and, by the north rule, the per-column
            # metrics) are tiny independent jobs over the written
            # violations table — write them concurrently
            sunk = {
                name: submit(name, df, sink=True)
                for name, df in (("partition_verdicts", partition_verdicts),
                                 ("check_summary", check_summary),
                                 ("stats", stats_df))
                if df is not None
            }
            partition_verdicts = sunk["partition_verdicts"].result()
            partition_verdicts = partition_verdicts.orderBy("partition_id")
            check_summary = sunk["check_summary"].result().orderBy("check")
            if stats_df is not None:
                stats_df = sunk["stats"].result()
    finally:
        ex.shutdown(wait=False, cancel_futures=True)
    return ValidationReport(
        violations, partition_verdicts, check_summary, stats_df, drift_results
    )
