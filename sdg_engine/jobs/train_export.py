"""END-TO-END TRAINING-DATA EXPORT JOB (r05 wave 20): the pipeline a
pre-training data team actually runs, composed from this engine's
certified operators —

  documents ──normalize+exact-dedup──▶ keepers   (constant-width md5
                                                  shuffle key; min
                                                  doc_id per family)
            ──Gopher quality filter──▶ kept docs (doc_quality_filter's
                                                  exact keep flag)
            ──TFRecord shards───────▶ out_dir    (from-scratch varint
                                                  proto + masked CRC32C,
                                                  one shard per task)
            ──re-ingest verify──────▶ manifest   (CRC-verified parse;
                                                  counts + 48-bit text
                                                  fingerprint)

Every stage is the oracle-checked implementation (doc_normalized_dedup
/ doc_quality_filter / tfrecord_roundtrip_docs queries); the job wires
them into one artifact: a shard directory plus `manifest.json` with
stage counts and a content fingerprint, written only after the
read-back verification matches the plan-side counts (the
write-audit-publish discipline at file level).

Run standalone:  python -m sdg_engine.jobs.train_export [sf] [out_dir]
(or spark-submit --py-files sdg_engine.zip -m sdg_engine.jobs.train_export).
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.payload import map_rows


def select_training_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keepers ∩ quality keeps — the curated corpus."""
    from ..queries.text import doc_quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keyed = docs.selectExpr(
        "doc_id", "lang", "text",
        "md5(trim(regexp_replace(regexp_replace(lower(text), "
        "'[^a-z0-9 ]', ' '), ' +', ' '))) AS nkey",
    )
    keepers = keyed.groupBy("nkey").agg(F.min("doc_id").alias("doc_id"))
    deduped = keyed.join(keepers, ["nkey", "doc_id"]).select(
        "doc_id", "lang", "text"
    )
    quality = doc_quality_filter(spark, sf_dir).filter("keep").select(
        "doc_id"
    )
    return deduped.join(quality, "doc_id")


def export_tfrecords(selected: DataFrame, out_dir: str) -> None:
    """One CRC-framed shard per partition (the certified codec)."""
    os.makedirs(out_dir, exist_ok=True)

    def _write(rows):
        from pyspark import TaskContext

        from sdg_engine.tfrecord import encode_example, write_tfrecords

        recs = [
            encode_example({
                "doc_id": int(r.doc_id),
                "lang": r.lang.encode("utf-8"),
                "text": r.text.encode("utf-8"),
            })
            for r in rows
        ]
        if recs:
            pid = TaskContext.get().partitionId()
            write_tfrecords(
                os.path.join(out_dir, f"shard-{pid:05d}.tfrecord"), recs
            )

    selected.foreachPartition(_write)


def verify_shards(spark: SparkSession, out_dir: str) -> dict:
    """CRC-verified re-ingest: counts + a 48-bit text fingerprint sum."""
    from ..queries._common import _b12_cells

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*")
        .load(out_dir)
    )

    def _parse(r):
        from sdg_engine.tfrecord import decode_example, read_tfrecords

        for rec in read_tfrecords(bytes(r.content)):
            ex = decode_example(rec)
            yield (ex["doc_id"][0], ex["text"].decode("utf-8"))

    parsed = map_rows(bf.select("content"), _parse,
                      "doc_id bigint, text string")
    fp = " + ".join(
        f"({c} * {4096 ** (3 - j)})"
        for j, c in enumerate(_b12_cells("h", 4))
    )
    row = (
        parsed.select("doc_id", F.md5("text").alias("h"))
        .selectExpr("doc_id", f"CAST({fp} AS BIGINT) AS fp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("fp").alias("sum_fp"),
        )
        .first()
    )
    return {"n": int(row.n), "sum_ids": int(row.sum_ids),
            "sum_fp": int(row.sum_fp)}


def run(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_input = docs.count()
    selected = select_training_docs(spark, sf_dir)
    n_selected = selected.count()
    shard_dir = os.path.join(out_dir, "shards")
    export_tfrecords(selected, shard_dir)
    got = verify_shards(spark, shard_dir)
    if got["n"] != n_selected:
        raise RuntimeError(
            f"export verification failed: {got['n']} rows re-ingested "
            f"vs {n_selected} selected — manifest NOT published"
        )
    manifest = {
        "n_input": int(n_input),
        "n_selected": int(n_selected),
        "n_shards": len([f for f in os.listdir(shard_dir)
                         if f.startswith("shard-")]),
        "verify": got,
    }
    tmp = os.path.join(out_dir, ".manifest.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, os.path.join(out_dir, "manifest.json"))
    return manifest


def main() -> None:
    from ..session import get_spark

    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.001
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/train_export"
    spark = get_spark("train-export", "local[*]")
    print(json.dumps(run(spark, f"/root/testdata/sf{sf:g}", out_dir)))


if __name__ == "__main__":
    main()
