"""Training-corpus export: curated documents → Hive-partitioned
parquet by (split, lang), with deterministic file names and a commit
manifest — the hand-off surface between this engine and a training
data loader.

Design (100 TB posture):
- The export shuffles each salt slice once on (split, lang) — n
  slices ⇒ n shuffles of 1/n of the data each, one full pass in
  total; the writer's `partitionBy` then emits each partition's rows
  into its own `split=…/lang=…/` directory, so training jobs read
  exactly the split/language they want via partition pruning (no
  file listing games, no full scans).
- Spark's part files carry a random task UUID, so a byte-identical
  re-export would still produce different NAMES. The adopt pass
  renames files to `part-NNNNN.parquet` per partition dir (sorted
  order) — re-runs over identical data produce identical trees,
  which is what makes the manifest diffable and the export rsyncable.
- `_manifest.json` records per-partition files, row counts, and
  bytes — the contract a loader checks before training.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def export_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    files_per_partition: int = 1,
) -> dict:
    """Run the curation chain and export kept documents partitioned by
    (split, lang). Returns the manifest dict (also written to
    `out_dir/_manifest.json`)."""
    from kinesis_to_firehose_spark.operators.textops import curate_corpus
    from kinesis_to_firehose_spark.sources.tables import load

    kept = curate_corpus(spark, sf_dir).select("doc_id", "n_tokens")
    d = load(spark, "documents", sf_dir)
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) "
        "AS BIGINT) % 100"
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    rows = (
        d.join(kept, "doc_id")
        .select("doc_id", "text", "lang", "n_chars", "n_tokens",
                split.alias("split"))
    )
    # One write per deterministic salt slice (pmod(hash(doc_id), n)):
    # repartitioning by (split, lang, salt) does NOT fan out —
    # hash-partitioning can collide two salts of a combo, and AQE
    # coalesces the tiny shuffle back into one task anyway, both of
    # which collapse a directory to a single file. A per-slice write
    # pins one file per (split, lang) dir per slice (repartition by
    # the partition columns puts a combo's rows in one task; coalesce
    # only merges tasks, never splits a combo), and the slice index IS
    # the file name — exact fan-out, fully deterministic tree.
    import shutil

    staging = out_dir.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    salt = F.pmod(F.hash("doc_id"), F.lit(files_per_partition))
    with_salt = rows.withColumn("_salt", salt)
    for sv in range(files_per_partition):
        (
            with_salt.filter(F.col("_salt") == sv)
            .drop("_salt")
            .repartition("split", "lang")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .partitionBy("split", "lang")
            .parquet(os.path.join(staging, f"s={sv}"))
        )
    os.makedirs(out_dir, exist_ok=True)
    for sv in range(files_per_partition):
        root = os.path.join(staging, f"s={sv}")
        for sd in sorted(os.listdir(root)):
            if not sd.startswith("split="):
                continue
            for ld in sorted(os.listdir(os.path.join(root, sd))):
                if not ld.startswith("lang="):
                    continue
                src_dir = os.path.join(root, sd, ld)
                parts = [
                    f for f in os.listdir(src_dir) if f.endswith(".parquet")
                ]
                if not parts:
                    continue
                assert len(parts) == 1, parts
                dst_dir = os.path.join(out_dir, sd, ld)
                os.makedirs(dst_dir, exist_ok=True)
                os.rename(
                    os.path.join(src_dir, parts[0]),
                    os.path.join(dst_dir, f"part-{sv:05d}.parquet"),
                )
    shutil.rmtree(staging, ignore_errors=True)
    return _adopt_and_manifest(spark, out_dir)


def _adopt_and_manifest(spark: SparkSession, out_dir: str) -> dict:
    """Rename part files to deterministic names and write the
    manifest. Idempotent: re-running over the same content yields the
    same tree and the same manifest."""
    partitions: dict[str, dict] = {}
    for split_d in sorted(os.listdir(out_dir)):
        if not split_d.startswith("split="):
            continue
        for lang_d in sorted(os.listdir(os.path.join(out_dir, split_d))):
            if not lang_d.startswith("lang="):
                continue
            pdir = os.path.join(out_dir, split_d, lang_d)
            files = sorted(
                f for f in os.listdir(pdir) if f.endswith(".parquet")
            )
            rels = []
            for i, f in enumerate(files):
                name = f"part-{i:05d}.parquet"
                if f != name:
                    os.rename(
                        os.path.join(pdir, f), os.path.join(pdir, name)
                    )
                rels.append(name)
            key = f"{split_d}/{lang_d}"
            n_bytes = sum(
                os.path.getsize(os.path.join(pdir, r)) for r in rels
            )
            partitions[key] = {"files": rels, "bytes": n_bytes}
    # row counts from the written store itself (one partition-pruned
    # aggregate), so the manifest states what a reader will see
    counts = {
        f"split={r['split']}/lang={r['lang']}": (r["n_docs"], r["n_tokens"])
        for r in (
            spark.read.parquet(out_dir)
            .groupBy("split", "lang")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            )
            .collect()
        )
    }
    for key, p in partitions.items():
        p["n_docs"], p["n_tokens"] = (int(x) for x in counts[key])
    manifest = {"partitions": partitions}
    tmp = os.path.join(out_dir, "_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True, indent=1)
    os.replace(tmp, os.path.join(out_dir, "_manifest.json"))
    return manifest


def read_export(
    spark: SparkSession, out_dir: str, split: str | None = None,
    lang: str | None = None,
) -> DataFrame:
    """Read an export with partition pruning on split/lang."""
    df = spark.read.parquet(out_dir)
    if split is not None:
        df = df.filter(F.col("split") == split)
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df
