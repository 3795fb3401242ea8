"""Training-shard materialization: the WRITE half of the corpus-prep
endgame. ``plans/pipelineq.py::corpus_materialize_clean`` decides WHAT
survives; this operator lays it out — hive-partitioned by split so a
trainer's "read the train split" is a partition-pruned scan, with a
reproducibility manifest per run (row count, schema, order-insensitive
content fingerprint) that downstream consumers pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def materialize_training_shards(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    files_per_split: int = 4,
) -> dict:
    """Clean corpus ∧ split assignment → ``path`` partitioned by split.

    Layout contract: one directory per split (partition-pruned reads),
    ``files_per_split`` files each (the compaction knob — at 100 TB
    this is computed from target file size, see ``compact_parquet``),
    ``_MANIFEST.json`` at the root with the content fingerprint.
    Returns the manifest."""
    from ..plans.pipelineq import corpus_materialize_clean, dataset_split_assign

    clean = corpus_materialize_clean(spark, sf_dir)
    splits = dataset_split_assign(spark, sf_dir).select("doc_id", "split")
    # corpus_materialize_clean applies every cleaning gate but NO split
    # restriction (only the decontamination doc_id >= DECON_EVAL_DOCS
    # gate); joining the split assignment therefore yields all three
    # splits from one survivor set.
    shard = clean.select("doc_id", "lang", "content_md5").join(splits, "doc_id")

    manifest = write_parquet_with_manifest_partitioned(shard, path, files_per_split)
    return manifest


def write_parquet_with_manifest_partitioned(
    df: DataFrame, path: str, files_per_partition: int
) -> dict:
    """Partitioned variant of ``sources/io.py::write_parquet_with_manifest``:
    hive-partition by ``split``, bound files per partition via
    repartition on (split, salt), same order-insensitive fingerprint
    contract.

    The salt matters: repartitioning on the split value ALONE would
    hash all rows of a split into one partition — exactly one file per
    split regardless of the knob, and distinct splits colliding into
    the same task. Salting by ``pmod(xxhash64(doc_id), k)`` spreads
    each split over AT MOST ``files_per_partition`` partitions — a
    range exchange on (split, salt) gives each (split, salt) combo its
    own contiguous range, so the count is exactly the knob whenever the
    sampled boundaries resolve one combo per partition (the balanced
    case); combos merged by sampling only ever lower the file count,
    never interleave splits within a task."""
    import json

    fingerprint_row = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("fingerprint"),
    ).collect()[0]
    n_splits = df.select("split").distinct().count()
    (
        df.repartitionByRange(
            max(1, n_splits * files_per_partition),
            "split",
            F.pmod(F.xxhash64("doc_id"), F.lit(files_per_partition)),
        )
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(path)
    )
    manifest = {
        "n_rows": fingerprint_row.n_rows,
        "fingerprint": fingerprint_row.fingerprint,
        "schema": df.schema.jsonValue(),
        "partitioned_by": ["split"],
    }
    # write via the JVM-agnostic local path (tests run on local FS; on
    # object stores use the util in sources/io)
    with open(f"{path}/_MANIFEST.json", "w") as f:
        json.dump(manifest, f, indent=2, default=str)
    return manifest
