"""Capture formatted physical plans of the hot paths into
plans/PLANS.md — the evidence that filters push down, `bytes` is
pruned, joins broadcast, and aggregations are partial-first."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from perl_data_validate_sanctions_spark.checks.stats import column_stats  # noqa: E402
from perl_data_validate_sanctions_spark.checks.unique import (  # noqa: E402
    duplicate_keys,
)
from perl_data_validate_sanctions_spark.api import (  # noqa: E402
    SanctionsValidator,
)
from perl_data_validate_sanctions_spark.operators.matcher import (  # noqa: E402
    match_captions,
    match_probes,
)
from perl_data_validate_sanctions_spark.schema import PROBE_SCHEMA  # noqa: E402
from perl_data_validate_sanctions_spark.session import get_spark  # noqa: E402
from perl_data_validate_sanctions_spark.sources.synth import (  # noqa: E402
    synth_entries,
    synth_images,
)

OUT = os.path.join(ROOT, "plans", "PLANS.md")
# entry count of the reference's bundled dimension, which the
# synthetic stand-in matches when the bundled YAML is absent
FULL_DIM_ENTRIES = 15_664


def fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def jobs_of(df) -> int:
    """Spark jobs that one ``collect()`` of ``df`` runs."""
    sc = df.sparkSession.sparkContext
    group = f"dump-plans-{id(df)}"
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    spark = get_spark(cores=4, shuffle_partitions=4)
    path = "/tmp/pdvs_plans_imgs"
    if not os.path.isdir(path):
        synth_images(spark, 20000, num_partitions=4).write.mode(
            "overwrite"
        ).parquet(path)
    images = spark.read.parquet(path)
    entries = synth_entries(spark, n_extra=50)

    # ANN top-k: partial per-partition top-k aggregate BEFORE the
    # exchange (no per-query global window sort), and the IVF index
    # scan pruned by an ivf_cluster partition filter
    from perl_data_validate_sanctions_spark.operators.similarity import (
        brute_force_topk,
        ivf_ann_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    emb = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 13 - 6) for j in range(16)])
            for i in range(200)
        ],
        "vec_id long, embedding array<float>",
    )
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    ivf_path = "/tmp/pdvs_plans_ivf"
    cents = train_ivf_centroids(emb, n_centroids=4, dim=16, iterations=1)
    write_ivf_index(emb, cents, ivf_path)

    # full bundled dimension (15,664 entries): the token index must
    # still broadcast at real dimension size. Without the bundled YAML
    # a synthetic dimension of the same entry count stands in.
    bundled_yml = "/root/reference/share/sanctions.yml"
    if os.path.exists(bundled_yml):
        from perl_data_validate_sanctions_spark.sources.yaml_io import (
            load_yaml_dataset,
        )

        full_entries, _ = load_yaml_dataset(spark, bundled_yml)
        full_dim = "full bundled dimension"
    else:
        dim_path = f"/tmp/pdvs_plans_dim{FULL_DIM_ENTRIES}"
        if not os.path.isdir(dim_path):
            n_extra = FULL_DIM_ENTRIES - synth_entries(spark, 0).count()
            synth_entries(spark, n_extra=n_extra).write.parquet(dim_path)
        full_entries = spark.read.parquet(dim_path)
        full_dim = "synthetic full-size dimension"

    # one get_sanctioned_info probe: the API runs only Matcher.best on
    # the dimension's cached matcher; match_probes on the same one-row
    # probe is the bulk shape (probes ⟕ best) the API ran before
    probe_args = dict(first_name="Zaki", last_name="Ahmad",
                      date_of_birth="1999-01-05")
    api_probe = SanctionsValidator(
        spark, entries=full_entries
    )._verdict_query(**probe_args)
    row = dict.fromkeys(PROBE_SCHEMA.fieldNames())
    row.update(probe_id="probe", **probe_args)
    bulk_probe = match_probes(
        spark.createDataFrame([tuple(row.values())], PROBE_SCHEMA),
        full_entries,
    ).select("verdict")

    sections = {
        "match_captions (J1-J2 hot path)": match_captions(images, entries),
        f"match_captions vs {full_dim} "
        f"({FULL_DIM_ENTRIES:,} entries — join must still broadcast)":
            match_captions(images, full_entries),
        f"get_sanctioned_info one-row probe vs {full_dim} "
        f"({jobs_of(api_probe)} jobs: Matcher.best alone — the only "
        "Exchange is the groupBy(__pid) over candidate rows; no "
        "probe-table exchange, no broadcast of best)": api_probe,
        f"match_probes over the same one-row probe "
        f"({jobs_of(bulk_probe)} jobs: the bulk shape, which adds the "
        "probes ⟕ best join back to the probe table)": bulk_probe,
        "duplicate_keys(phash) (salted two-phase)": duplicate_keys(
            images, "phash"
        ),
        "column_stats (one-pass wide agg)": column_stats(images),
        "filter pushdown sample (w > 800, two columns)": images.select(
            "image_id", "w"
        ).filter(F.col("w") > 800),
        "brute_force_topk (partial top-k agg, no per-query window)":
            brute_force_topk(emb, queries, k=5),
        "ivf_ann_topk_indexed (PartitionFilters prune inverted lists)":
            ivf_ann_topk_indexed(spark, ivf_path, queries, cents,
                                 k=5, n_probe=2),
        "extract_image_features (ReadSchema pruned to id+bytes, one "
        "narrow mapInPandas stage — real PNG/JPEG and stub rows alike)":
            __import__(
                "perl_data_validate_sanctions_spark.operators.multimodal",
                fromlist=["extract_image_features"],
            ).extract_image_features(images),
        "extract_audio_features (same shape: id+bytes scan, zero "
        "shuffle, features only leave the worker)":
            __import__(
                "perl_data_validate_sanctions_spark.operators.multimodal",
                fromlist=["extract_audio_features"],
            ).extract_audio_features(
                images.select(F.col("image_id").alias("audio_id"), "bytes")
            ),
        "psi drift (algebraic over the histogram: all HashAggregate, "
        "broadcast grid, NO applyInPandas — contrast the KS/chi2 "
        "sections' Arrow stage)":
            __import__(
                "perl_data_validate_sanctions_spark.checks.drift",
                fromlist=["drift_check"],
            ).drift_check(
                images, "fmt",
                F.pmod(F.xxhash64("image_id"), F.lit(16)), kind="psi",
            ),
        "phash_near_dup_pairs (ReadSchema pruned to id+bytes, "
        "pigeonhole block explode carries only (id, blk, val), "
        "hamming verify joins signatures back per candidate)":
            __import__(
                "perl_data_validate_sanctions_spark.operators.multimodal",
                fromlist=["phash_near_dup_pairs"],
            ).phash_near_dup_pairs(images, max_hamming=6),
    }

    # near_dup_groups: the repeated unit is ONE min-label-propagation
    # round — dump that round's plan (the operator itself returns a
    # post-checkpoint scan, which hides it). What to look for: the
    # only Exchange is the groupBy(id) hash partitioning, its rows
    # carry just (id, lbl), and the aggregate is partial-first.
    from perl_data_validate_sanctions_spark.operators.dedup import (
        _propagation_round,
    )

    pair_df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    e = pair_df.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.groupBy("a").agg(F.min("b").alias("nmin"))
        .select(F.col("a").alias("id"),
                F.least(F.col("a"), F.col("nmin")).alias("lbl"))
        .localCheckpoint(eager=True)
    )
    sections[
        "near_dup_groups round (one label-propagation round — the "
        "operator's own _propagation_round: edges join labels shuffled "
        "on the id key — SortMergeJoin is the correct join here, BOTH "
        "sides are fact-sized at scale — then one partial-first "
        "groupBy(id); every shuffle row is just (a, b) or (id, lbl); "
        "scans are the per-round localCheckpoints)"
    ] = _propagation_round(edges, labels)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write(
            "# Physical plans of the hot paths (generated by "
            "scripts/dump_plans.py)\n\n"
            "What to look for: `ReadSchema` never includes `bytes` "
            "outside the integrity check; the token-index join is a "
            "`BroadcastHashJoin`; aggregates are partial (map-side) "
            "before their single `Exchange`; filters appear in "
            "`PushedFilters`.\n"
        )
        for title, df in sections.items():
            f.write(f"\n## {title}\n\n```\n{fmt(df)}\n```\n")
    print("wrote", OUT)


if __name__ == "__main__":
    main()
