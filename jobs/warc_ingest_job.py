#!/usr/bin/env python
"""Production entry point: WARC archives → training-ready corpus.

    zip -r sketchlib.zip sketchlib            # once, repo root
    spark-submit --py-files sketchlib.zip jobs/warc_ingest_job.py \
        --input  /data/crawl/*.warc.gz        \
        --output /data/corpus_out             \
        --shards 256

The north-star pipeline end-to-end: Common-Crawl-style archives are
parsed with the bounded-memory streaming WARC source (one task per
archive, incremental gzip, corrupt-record resync), pages flow through
the single-shuffle corpus-prepare shape (PII scrub → 128-bit md5 text
dedup via min-of-struct, no join-back → token-count quality floor →
deterministic hash split), and the deduplicated url set additionally
builds a sharded cuckoo membership table for downstream
contains/delete queries.

Outputs under --output:
  corpus/                parquet: (url, warc_ts, text, lang, n_tokens,
                         split) — deduplicated, scrubbed, split
  shards/                parquet: sharded cuckoo filter over kept urls
  metrics.json           page/doc counts, dedup ratio, timings
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="WARC file/glob/dir (.warc/.warc.gz)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--fingerprint-bits", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import Observation, SparkSession, functions as F

    spark = SparkSession.builder.appName("sketchlib-warc-ingest").getOrCreate()

    from sketchlib.config import CuckooConfig
    from sketchlib.spark.shard import build_sharded
    from sketchlib.spark.text import hash_split, scrub_pii, token_count
    from sketchlib.spark.warc import read_warc

    t0 = time.time()
    # observe() piggybacks the page count on the corpus-write job — a
    # separate pages.count() would re-parse every archive end-to-end
    # (decompress + record parse + text extraction) just for a metric
    obs = Observation("pages_in")
    # driver-visible count of records dropped by the 64 MiB record cap
    # (otherwise only an executor-log warning — undiagnosable in batch).
    # At-least-once under task retries/speculation (transformation-side
    # accumulator): treat as zero-or-not, not an exact tally
    oversize = spark.sparkContext.accumulator(0)
    pages = read_warc(spark, args.input, oversize_counter=oversize).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    # ONE shuffle end-to-end: scrub/tokens are scan-side projections;
    # min(struct) picks the winner per text digest with its metadata
    # attached, so no winners->corpus join-back (q_corpus_prepare shape)
    # dedup key: 128-bit md5 (unhex → 16-byte binary). Unlike
    # dedup_exact_hash — whose whole point is shuffling (8-byte digest,
    # id) instead of text, with documented ~n²/2^64 collision
    # acceptance — this job's min(struct) shuffle already carries the
    # full text, so the wider digest costs nothing in shuffle volume
    # and drops silent collision-deletions to ~n²/2^129 (immaterial
    # even at the 10^12-doc north star).
    scrubbed = pages.select(
        "url", "warc_ts", "lang", scrub_pii().alias("text")
    ).select(
        F.unhex(F.md5("text")).alias("_th"),
        F.struct(
            # unicode=True: Unicode whitespace splits tokens — Java's
            # ASCII \s would glue '&nbsp;'-separated tokens,
            # undercounting n_tokens and silently dropping docs at the
            # min-tokens floor (text.token_count)
            "url", "warc_ts", "lang", "text",
            token_count("text", unicode=True).alias("n_tokens"),
        ).alias("m"),
    )
    corpus = (
        scrubbed.groupBy("_th")
        .agg(F.min("m").alias("m"))
        .select("m.url", "m.warc_ts", "m.text", "m.lang", "m.n_tokens")
        .where(F.col("n_tokens") >= args.min_tokens)
        .withColumn("split", hash_split("url"))
    )
    corpus.write.mode("overwrite").parquet(f"{args.output}/corpus")
    n_pages = int(obs.get["n"])
    kept = spark.read.parquet(f"{args.output}/corpus")
    n_kept = kept.count()

    cfg = CuckooConfig(
        capacity=max(int(n_kept * 1.1), 1024),
        fingerprint_bits=args.fingerprint_bits,
        hash_strategy="xx",
    )
    # distinct(): recrawl corpora keep one doc per TEXT but can keep the
    # same url with differing text — duplicate url inserts would eat
    # fingerprint slots against the 1.1x sizing and overfill shards
    urls = kept.select("url").distinct()
    shard_df = build_sharded(urls, "url", args.shards, cfg=cfg)
    shard_df.write.mode("overwrite").parquet(f"{args.output}/shards")
    fails = (
        spark.read.parquet(f"{args.output}/shards")
        .agg(F.sum("fail_count").alias("f"))
        .first()
        .f
        or 0
    )
    total_sec = time.time() - t0

    metrics = {
        "pages_in": n_pages,
        "docs_kept": n_kept,
        "dedup_and_quality_drop": n_pages - n_kept,
        "cuckoo_insert_failures": int(fails),
        "oversize_records_skipped": int(oversize.value),
        "total_sec": round(total_sec, 2),
        "pages_per_sec": round(n_pages / total_sec) if total_sec else None,
        "shards": args.shards,
    }
    from sketchlib.spark.fsio import write_text

    write_text(
        spark, f"{args.output}/metrics.json", json.dumps(metrics, indent=2)
    )
    print("WARC_INGEST_RESULT " + json.dumps(metrics))
    if fails:
        # a filter that dropped inserts answers false for present urls —
        # fail the job loudly instead of shipping a broken index
        raise SystemExit(f"cuckoo insert failures: {fails} (resize --shards/capacity)")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
