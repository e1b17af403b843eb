"""spark-submit entry point: build all sketches over a corpus and
checkpoint resumable state.

Cluster usage (the deployment shape the north rule specifies —
BASELINE.json:6 "jobs ship via spark-submit --py-files"):

    cd /path/to/repo && zip -r /tmp/fgs.zip fuggetabouspark
    spark-submit --py-files /tmp/fgs.zip \
        --conf spark.sql.adaptive.enabled=true \
        examples/submit_build.py \
        --corpus s3://bucket/corpus_parquet --checkpoint /mnt/shared/fgs_ck \
        --capacity 200000000 --window-ticks 86400 --shards 64

The corpus may be any Spark-readable location. The checkpoint must be
a filesystem path the driver can reach (local disk or a shared mount):
the driver commits each shard's state and lineage there, and a re-run
with the same --checkpoint and --shards skips the committed shards.

Local sandbox smoke:

    python examples/submit_build.py --corpus /tmp/fgs_corpus \
        --checkpoint /tmp/fgs_ck --generate-scale xs
"""

from __future__ import annotations

import argparse
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="parquet dir or Iceberg table of (doc_id, tokens, n_tok, source)")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--capacity", type=int, default=1_000_000)
    ap.add_argument("--error", type=float, default=0.005)
    ap.add_argument("--window-ticks", type=int, default=1 << 20)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--generate-scale", default=None, help="synthesize the fixture corpus at --corpus first (sandbox)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("fuggetabouspark-build").getOrCreate()
    # when launched via spark-submit --py-files the package is already
    # on every executor; ship_package is a harmless no-op re-add then
    from fuggetabouspark.session import ship_package

    ship_package(spark)

    from fuggetabouspark.fixtures import write_corpus
    from fuggetabouspark.io import read_corpus
    from fuggetabouspark.params import (
        CMSParams, HLLParams, KLLParams, ScalingParams, TDigestParams, TimingParams,
    )
    from fuggetabouspark.pipeline import SketchSpec
    from fuggetabouspark.state import build_resumable, completed_shards

    if args.generate_scale:
        write_corpus(spark, args.corpus, args.generate_scale)

    df = read_corpus(spark, args.corpus)
    tick = (F.xxhash64("doc_id") % 1000 + 1001).cast("long")  # demo tick; real corpora pass event time
    specs = [
        SketchSpec("tbf", "tbf", TimingParams(args.capacity, args.error, window_ticks=args.window_ticks), "tokens"),
        SketchSpec("stbf", "stbf", ScalingParams(args.capacity // 10, args.error, window_ticks=args.window_ticks), "tokens"),
        SketchSpec("hll", "hll", HLLParams(p=14), "tokens"),
        SketchSpec("cms", "cms", CMSParams(eps=5e-4, delta=0.01), "tokens"),
        SketchSpec("tdigest", "tdigest", TDigestParams(200.0), "n_tok"),
        SketchSpec("kll", "kll", KLLParams(200), "n_tok"),
    ]
    done = completed_shards(spark, args.checkpoint, expect_n_shards=args.shards)
    print(f"resume: {len(done)} of {args.shards} shards already committed")
    sketches = build_resumable(
        spark, df, specs, args.checkpoint,
        n_shards=args.shards, tick_col=tick, partitions=args.partitions,
    )
    for (spec, group), sk in sorted(sketches.items()):
        print(f"{spec:8s} {group:10s} n_items={sk.n_items}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
