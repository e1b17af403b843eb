"""Round-6 optimization harness: per-stage timing + plan capture for
the heavy bench.py queries (guide §1: measure first; noop-sink
isolation; labeled jobs). bench.py itself is the FROZEN driver
contract — this file only diagnoses where its seconds go, and its
numbers are cited in OPTIMIZATION_r06.md.

Usage:
    python bench_extra.py emb       # incremental_emb_100k_vecs phases
    python bench_extra.py recrawl   # incremental_recrawl_200k phases
    python bench_extra.py chain     # near_dup_chain phases
    python bench_extra.py mask      # mask_passages phases
    python bench_extra.py sigs     # minhash signature kernel isolation
    python bench_extra.py build     # build_all_sketches isolation
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn, spark=None, reps=2):
    best = None
    out = None
    for _ in range(reps):
        if spark is not None:
            spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
        if spark is not None:
            spark.sparkContext.setJobDescription(None)
    print(f"  {label:<45s} {best:8.3f} s")
    return out


def _spark():
    from fuggetabouspark.session import get_spark

    return get_spark("fgs-bench-extra", cpus=CPUS)


def run_emb():
    """Phase decomposition of incremental_emb_100k_vecs."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from fuggetabouspark.dataops import incremental_embedding_dedup
    from fuggetabouspark.dataops import incremental as inc
    from fuggetabouspark.params import TimingParams
    from fuggetabouspark.queries import seen_within_distributed, sk_window

    spark = _spark()
    EDIM, NVEC = 64, 100_000

    def vec_of(key):
        return F.transform(
            F.sequence(F.lit(1), F.lit(EDIM)),
            lambda j: (
                (F.pmod(F.xxhash64(key * 131 + j.cast("long")), F.lit(2001)) - 1000)
                / 1000.0
            ).cast("float"),
        )

    day1v = spark.range(NVEC).select(
        F.col("id").alias("vec_id"), vec_of(F.col("id")).alias("embedding")
    )
    eck = tempfile.mkdtemp(prefix="fgs_extra_emb_")
    ep = TimingParams(capacity=1_000_000, error=0.001, window_ticks=2**31)
    incremental_embedding_dedup(
        spark, day1v, eck, now=1, dim=EDIM, bits=16, params=ep, partitions=CPUS
    ).unpersist()
    key2 = F.when(F.col("id") % 20 == 0, F.col("id") - NVEC).otherwise(F.col("id"))
    day2v = spark.range(NVEC, 2 * NVEC).select(
        F.col("id").alias("vec_id"), vec_of(key2).alias("embedding")
    )

    def full():
        ann = incremental_embedding_dedup(
            spark, day2v, eck, now=2, dim=EDIM, bits=16, params=ep,
            partitions=CPUS, update_state=False,
        )
        n = ann.where("is_emb_dup_history").count()
        ann.unpersist()
        return n

    full()  # warm
    timed("emb full probe (bench replica)", full, spark)

    # --- phases ---
    timed("emb day2 input noop", lambda: noop(day2v), spark)
    src = day2v.select(
        F.col("vec_id").cast("string").alias("vec_id"),
        F.col("embedding").alias("embedding"),
    )
    timed(
        "emb key kernel (no checkpoint)",
        lambda: noop(
            inc._emb_table_keys(src, dim=EDIM, bits=16, tables=8,
                                vec_col="embedding", id_col="vec_id")
        ),
        spark,
    )
    keyed = inc._emb_table_keys(
        src, dim=EDIM, bits=16, tables=8, vec_col="embedding", id_col="vec_id"
    ).localCheckpoint(eager=True)
    sk = timed("emb state load (driver)", lambda: inc._EMB.load(eck), spark)
    w = sk_window(sk)
    payload = timed("emb sk.to_bytes (driver)", lambda: sk.to_bytes(), None, reps=2)
    state_df = spark.createDataFrame(
        [(inc.EMB_SPEC, "", bytearray(payload), int(sk.n_items))],
        "spec string, group string, payload binary, n_items long",
    )
    timed(
        "emb createDataFrame(payload) (driver)",
        lambda: spark.createDataFrame(
            [(inc.EMB_SPEC, "", bytearray(payload), int(sk.n_items))],
            "spec string, group string, payload binary, n_items long",
        ),
        None,
    )

    timed(
        "emb keyed.distinct count",
        lambda: keyed.select(F.col("bkey").alias("key")).distinct().count(),
        spark,
    )
    timed(
        "emb raw probe count (no output distinct)",
        lambda: seen_within_distributed(
            spark, state_df, inc.EMB_SPEC,
            keyed.select(F.col("bkey").alias("key")).distinct(), 2,
            only_seen=True,
        ).count(),
        spark,
    )
    timed(
        "emb hist_matches noop (current operator)",
        lambda: noop(
            inc._emb_hist_matches(
                spark, src, keyed, eck, 2, threshold=0.9,
                dim=EDIM, bits=16, tables=8,
            )
        ),
        spark,
    )

    def mk_hits():
        return (
            seen_within_distributed(
                spark, state_df, inc.EMB_SPEC,
                keyed.select(F.col("bkey").alias("key")).distinct(), 2,
                only_seen=True,
            )
            .select(F.col("key").alias("bkey"))
            .distinct()
        )

    nh = timed("emb probe hits count", lambda: mk_hits().count(), spark)
    print(f"    hits = {nh}")
    hits = mk_hits().localCheckpoint(eager=True)
    done = inc._EMB.done(eck)
    bucket_led = inc._EMB.ledger(spark, eck, "bucket_ledger", done)
    vec_led = inc._EMB.ledger(spark, eck, "vec_ledger", done)
    probe = keyed.select("bkey", "vec_id").join(F.broadcast(hits), "bkey")
    timed("emb probe join noop", lambda: noop(probe), spark)

    def mk_cand():
        return (
            bucket_led.where(F.col("tick").between(2 - w + 1, 2))
            .select("bkey", F.col("vec_id").alias("hist_vec_id"))
            .join(F.broadcast(probe), "bkey")
            .select("vec_id", "hist_vec_id")
            .distinct()
        )

    nc = timed("emb cand count", lambda: mk_cand().count(), spark)
    print(f"    cand pairs = {nc}")
    cand = mk_cand().localCheckpoint(eager=True)
    hist_ids = cand.select(F.col("hist_vec_id").alias("vec_id")).distinct()
    hvecs = (
        vec_led.join(F.broadcast(hist_ids), "vec_id", "left_semi")
        .select(F.col("vec_id").alias("hist_vec_id"), F.col("embedding").alias("hvec"))
    )
    timed("emb hvecs noop", lambda: noop(hvecs), spark)
    from fuggetabouspark.dataops.similarity import _dot, _norm

    nprod = _norm(F.col("embedding")) * _norm(F.col("hvec"))
    cos = F.when(nprod > 0, _dot(F.col("embedding"), F.col("hvec")) / nprod).otherwise(
        F.lit(-1.0)
    )
    verify = (
        src.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(hvecs), "hist_vec_id")
        .select("vec_id", "hist_vec_id", cos.alias("cosine"))
        .where(F.col("cosine") >= 0.9)
        .groupBy("vec_id")
        .agg(F.max(F.struct("cosine", "hist_vec_id")).alias("_best"))
    )
    timed("emb cosine verify noop (JVM exprs)", lambda: noop(verify), spark)
    shutil.rmtree(eck, ignore_errors=True)
    spark.stop()


def run_recrawl():
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from fuggetabouspark.dataops import incremental_dedup
    from fuggetabouspark.dataops import incremental as inc
    from fuggetabouspark.params import TimingParams
    import bench

    spark = _spark()
    dedup_path, _ = bench.ensure_corpus(spark, "m")
    mdf = spark.read.parquet(dedup_path)
    ckdir = tempfile.mkdtemp(prefix="fgs_extra_incr_")
    ip = TimingParams(capacity=500_000, error=0.001, window_ticks=2**31)
    day1 = mdf.withColumn("doc_id", F.col("doc_id").cast("string"))
    incremental_dedup(
        spark, day1, ckdir, now=1, text_col="tokens", partitions=CPUS, params=ip
    ).unpersist()
    day2 = day1.withColumn("doc_id", F.concat("doc_id", F.lit("_r")))

    def probe():
        ann = incremental_dedup(
            spark, day2, ckdir, now=2, text_col="tokens", params=ip,
            partitions=CPUS, update_state=False,
        )
        n = ann.where("is_dup_history").count()
        ann.unpersist()
        return n

    probe()  # warm
    timed("recrawl full (bench replica)", probe, spark)
    sk = timed(
        "recrawl state load (driver)", lambda: inc._EXACT.load(ckdir), spark
    )
    timed("recrawl sk.to_bytes (driver)", lambda: sk.to_bytes(), None)
    fps = inc._shard_fps(day2, "tokens", None, 2)
    timed("recrawl fps noop", lambda: noop(fps), spark)
    timed(
        "recrawl annotate only (no count)",
        lambda: inc.annotate_against_history(
            spark, day2, ckdir, 2, text_col="tokens"
        ).localCheckpoint(eager=True).unpersist(),
        spark,
    )
    shutil.rmtree(ckdir, ignore_errors=True)
    spark.stop()


def run_chain():
    from pyspark.sql import functions as F

    from fuggetabouspark.dataops import (
        connected_components,
        minhash_lsh_candidates,
        minhash_signatures_tokens,
    )
    import bench

    spark = _spark()
    dedup_path, _ = bench.ensure_corpus(spark, "m")
    mdf = spark.read.parquet(dedup_path)
    clones = mdf.where(F.pmod(F.xxhash64("doc_id"), F.lit(20)) == 0).withColumn(
        "doc_id", F.concat(F.col("doc_id").cast("string"), F.lit("_clone"))
    )
    corpus2 = mdf.withColumn("doc_id", F.col("doc_id").cast("string")).unionByName(clones)
    sig = minhash_signatures_tokens(corpus2, num_hashes=64)
    timed("chain signature kernel noop", lambda: noop(sig), spark)
    sigc = sig.localCheckpoint(eager=True)
    timed(
        "chain LSH candidates count (from ckpt sigs)",
        lambda: minhash_lsh_candidates(sigc, bands=16, rows_per_band=4).count(),
        spark,
    )
    cand = minhash_lsh_candidates(sigc, bands=16, rows_per_band=4).localCheckpoint(
        eager=True
    )
    toks = corpus2.select(
        "doc_id", F.array_distinct(F.col("tokens").cast("array<long>")).alias("ws")
    )
    docs_in = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    toks_c = toks.join(docs_in, "doc_id", "left_semi")
    pairs = (
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
    timed("chain verify join noop", lambda: noop(pairs), spark)
    pc = pairs.localCheckpoint(eager=True)
    timed(
        "chain CC (from ckpt pairs)",
        lambda: connected_components(
            pc.where("ok").select("doc_a", "doc_b"), return_rounds=True
        )[0].count(),
        spark,
    )
    timed("chain corpus2.count", lambda: corpus2.count(), spark)
    spark.stop()


def run_mask():
    from pyspark.sql import functions as F

    from fuggetabouspark.dataops import mask_repeated_passages
    from fuggetabouspark.dataops.dedup import passage_fingerprints
    import bench

    spark = _spark()
    dedup_path, _ = bench.ensure_corpus(spark, "m")
    mdf = spark.read.parquet(dedup_path)
    paras = [" ".join(f"bp{k}w{i}" for i in range(60)) for k in range(4)]
    h = F.pmod(F.xxhash64("doc_id"), F.lit(80))
    boiler = F.when(
        h < 4, F.element_at(F.array(*[F.lit(p) for p in paras]), (h + 1).cast("int"))
    )
    mtext = mdf.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array_join(F.col("tokens").cast("array<string>"), " ").alias("text"),
    ).select(
        "doc_id",
        F.when(boiler.isNotNull(), F.concat_ws(" ", F.col("text"), boiler))
        .otherwise(F.col("text")).alias("text"),
    )

    def full():
        return (
            mask_repeated_passages(mtext, window=50)
            .agg(F.sum("n_tokens_removed"))
            .collect()[0][0]
        )

    full()
    timed("mask full (bench replica)", full, spark)
    timed("mask text render noop", lambda: noop(mtext), spark)
    wf = passage_fingerprints(mtext, "text", 50, 1, with_positions=True)
    timed("mask kernel noop", lambda: noop(wf), spark)
    wfp = wf.persist()
    wfp.count()
    rep = (
        wfp.groupBy("fp")
        .agg(
            F.count("*").alias("_nd"),
            F.min(F.struct(F.col("doc_id"), F.col("first_pos").alias("pos"))).alias("_keep"),
        )
        .where(F.col("_nd") >= 2)
        .select("fp", "_keep")
    )
    timed("mask rep groupBy noop (from cached wf)", lambda: noop(rep), spark)
    drops = (
        wfp.join(rep, "fp")
        .select(
            "doc_id",
            F.filter(
                "pos_list",
                lambda p: ~(
                    (F.col("doc_id") == F.col("_keep.doc_id")) & (p == F.col("_keep.pos"))
                ),
            ).alias("_d"),
        )
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("_d")).alias("_drops"))
    )
    timed("mask drops join noop (from cached wf)", lambda: noop(drops), spark)
    wfp.unpersist()
    spark.stop()


def run_sigs():
    from fuggetabouspark.dataops import minhash_signatures_tokens
    import bench

    spark = _spark()
    dedup_path, _ = bench.ensure_corpus(spark, "m")
    mdf = spark.read.parquet(dedup_path)
    timed("sigs scan noop", lambda: noop(mdf.select("doc_id", "source", "tokens")), spark)
    timed(
        "sigs kernel count (bench replica)",
        lambda: minhash_signatures_tokens(mdf, num_hashes=64).count(),
        spark,
        reps=3,
    )
    spark.stop()


def run_build():
    import bench

    spark = _spark()
    corpus_path, rows = bench.ensure_corpus(spark, bench.BENCH_SCALE)
    spark.read.parquet(corpus_path).limit(1000).count()
    timed(
        "build_all_sketches (bench replica)",
        lambda: bench.build_job(spark, corpus_path, rows, partitions=CPUS),
        spark,
        reps=2,
    )
    timed(
        "build scan noop",
        lambda: noop(spark.read.parquet(corpus_path)),
        spark,
    )
    spark.stop()


if __name__ == "__main__":
    which = sys.argv[1] if len(sys.argv) > 1 else "emb"
    {
        "emb": run_emb,
        "recrawl": run_recrawl,
        "chain": run_chain,
        "mask": run_mask,
        "sigs": run_sigs,
        "build": run_build,
    }[which]()
