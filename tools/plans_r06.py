"""Capture .explain("formatted") plans of the bench-query operator
paths into plans/r06/<name>_{before,after}.txt (round-6 optimization
evidence). Usage: python tools/plans_r06.py before|after [name ...]

Each section builds the SAME lazy plan the bench query executes (via
the real library entry points, not replicas) and dumps the formatted
physical plan. Data: the bench fixture corpus at scale 's' (small —
plans, not timings) plus a tiny emb/recrawl checkpoint, so capture is
fast and deterministic.
"""

from __future__ import annotations

import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# plans always land in the MAIN repo (capture of the 'before' tag runs
# from a worktree pinned at the round-start commit)
OUT = os.environ.get("FGS_PLANS_OUT", os.path.join("/root/repo", "plans", "r06"))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import functions as F

    import bench
    from fuggetabouspark.dataops import (
        incremental_dedup,
        incremental_embedding_dedup,
        mask_repeated_passages,
        minhash_lsh_candidates,
        minhash_signatures_tokens,
        pack_sequences,
    )
    from fuggetabouspark.dataops import incremental as inc
    from fuggetabouspark.params import TimingParams
    from fuggetabouspark.session import get_spark

    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("plans-r06", cpus=8)
    path, rows = bench.ensure_corpus(spark, "s")
    mdf = spark.read.parquet(path)
    sections: dict[str, object] = {}

    # --- build_all_sketches: the build plan (storage-aligned) ---
    from fuggetabouspark.pipeline import build_sketches

    sections["build_all_sketches"] = build_sketches(
        mdf, bench._specs(), group_cols=("source",),
        tick_col=bench._tick_col(rows), partitions=8, salt_mod=8,
        align="storage",
    )

    # --- minhash signatures ---
    sections["minhash_sigs"] = minhash_signatures_tokens(mdf, num_hashes=64)

    # --- near-dup chain verify join (the heavy part of the chain) ---
    clones = mdf.where(F.pmod(F.xxhash64("doc_id"), F.lit(20)) == 0).withColumn(
        "doc_id", F.concat(F.col("doc_id").cast("string"), F.lit("_clone"))
    )
    corpus2 = mdf.withColumn("doc_id", F.col("doc_id").cast("string")).unionByName(clones)
    sig = minhash_signatures_tokens(corpus2, num_hashes=64)
    cand = minhash_lsh_candidates(sig, bands=16, rows_per_band=4)
    toks = corpus2.select(
        "doc_id", F.array_distinct(F.col("tokens").cast("array<long>")).alias("ws")
    )
    docs_in = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    toks_c = toks.join(docs_in, "doc_id", "left_semi")
    sections["chain_verify"] = (
        cand.join(
            toks_c.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa")),
            "doc_a",
        )
        .join(
            toks_c.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb")),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b",
            (
                F.size(F.array_intersect("wa", "wb"))
                >= 0.8 * F.size(F.array_union("wa", "wb"))
            ).alias("ok"),
        )
    )

    # --- mask_repeated_passages (full lazy plan before the agg) ---
    mtext = mdf.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array_join(F.col("tokens").cast("array<string>"), " ").alias("text"),
    )
    sections["mask_passages"] = mask_repeated_passages(mtext, window=50)

    # --- pack_sequences ---
    sections["pack_sequences"] = pack_sequences(mdf, 2048, n_buckets=64)

    # --- incremental recrawl annotate (needs a day-1 checkpoint) ---
    ckdir = tempfile.mkdtemp(prefix="fgs_plans_incr_")
    ip = TimingParams(capacity=100_000, error=0.001, window_ticks=2**31)
    day1 = mdf.withColumn("doc_id", F.col("doc_id").cast("string")).limit(5000)
    incremental_dedup(
        spark, day1, ckdir, now=1, text_col="tokens", partitions=8, params=ip
    ).unpersist()
    day2 = day1.withColumn("doc_id", F.concat("doc_id", F.lit("_r")))
    # incremental_dedup materializes the (doc_id, fp, tick) frame once
    # and hands it to the annotate plan — capture exactly what it runs
    fps = inc._shard_fps(day2, "tokens", None, 2).localCheckpoint(eager=True)
    sections["incremental_recrawl"] = inc.annotate_against_history(
        spark, day2, ckdir, 2, text_col="tokens", fps_df=fps
    )

    # --- incremental emb probe (needs a day-1 emb checkpoint) ---
    EDIM = 16

    def vec_of(key):
        return F.transform(
            F.sequence(F.lit(1), F.lit(EDIM)),
            lambda j: (
                (F.pmod(F.xxhash64(key * 131 + j.cast("long")), F.lit(2001)) - 1000)
                / 1000.0
            ).cast("float"),
        )

    day1v = spark.range(2000).select(
        F.col("id").alias("vec_id"), vec_of(F.col("id")).alias("embedding")
    )
    eck = tempfile.mkdtemp(prefix="fgs_plans_emb_")
    ep = TimingParams(capacity=100_000, error=0.001, window_ticks=2**31)
    incremental_embedding_dedup(
        spark, day1v, eck, now=1, dim=EDIM, bits=12, params=ep, partitions=8
    ).unpersist()
    day2v = spark.range(2000, 4000).select(
        F.col("id").alias("vec_id"), vec_of(F.col("id") - 2000).alias("embedding")
    )
    # the LAZY probe plan incremental_embedding_dedup materializes (a
    # checkpointed frame's plan is just a scan)
    sections["incremental_emb"] = inc.emb_annotate_plan(
        spark, day2v, eck, now=2, dim=EDIM, bits=12
    )

    for name, df in sections.items():
        if only and name not in only:
            continue
        if df is None:
            continue
        with open(os.path.join(OUT, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan_of(df))
        print(f"wrote {name}_{tag}.txt")
    shutil.rmtree(ckdir, ignore_errors=True)
    shutil.rmtree(eck, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
