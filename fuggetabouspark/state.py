"""Checkpointed, resumable builds with per-shard lineage
(SURVEY.md §3.3; BASELINE.json:6 "per-partition lineage rows and
checkpointed sketch state for resumable runs").

Granularity: the input is split into ``n_shards`` deterministic shards
by ``pmod(xxhash64(doc_id), n_shards)``. Each shard is ONE Spark action,
``build_sketches(...).collect()``; the driver then appends the shard's
sketch rows to ``sketch_state/`` and, last, its lineage row to
``lineage/``, each as one parquet file (io.append_rows). Resume skips
the shard ids found in lineage, so a killed run re-does at most one
shard. A crash between the two appends leaves a second copy of that
shard's sketch rows after the re-run, so load_state keeps one row per
(spec, group, shard) — the largest n_items — before merging: additive
sketches must never count a retried shard twice.

The collected rows are O(specs × groups), the rows load_state brings
to the driver anyway. Invariant: the checkpoint is a filesystem path
the driver can reach (local or mounted), since commits, loads and
compact_checkpoint's directory swap all run on the driver.

At cluster scale, shards double as a unit of incremental ingest: a new
partition of an Iceberg table is just one more shard appended to the
same checkpoint.
"""

from __future__ import annotations

import json
import os

from .io import LINEAGE_SCHEMA, SHARD_SCHEMA, append_rows, heal_swap, read_table, swap_dir
from .pipeline import (GROUP_SEP, LINEAGE_SPEC, SketchSpec, build_sketches, corpus_digest,
                       lineage_from_rows, merge_rows_to_sketches)

SHARD_DDL = "spec string, group string, payload binary, n_items long, shard int"


def _paths(checkpoint_dir: str) -> tuple[str, str]:
    return os.path.join(checkpoint_dir, "sketch_state"), os.path.join(checkpoint_dir, "lineage")


def completed_shards(spark, checkpoint_dir: str, expect_n_shards: int | None = None) -> set[int]:
    """Shard ids with durable lineage. When ``expect_n_shards`` is
    given, refuses to resume a checkpoint built with a different shard
    count — shard membership is pmod(hash, n_shards), so mixing counts
    would re-process documents already covered by completed shards and
    double-count every additive sketch."""
    _, lineage_path = _paths(checkpoint_dir)
    tbl = read_table(lineage_path, LINEAGE_SCHEMA)
    if expect_n_shards is not None and tbl.num_rows:
        recorded = json.loads(tbl.column("meta")[0].as_py()).get("n_shards")
        if recorded != expect_n_shards:
            raise ValueError(
                f"checkpoint was built with n_shards={recorded}; resuming with "
                f"n_shards={expect_n_shards} would double-count — use the original value"
            )
    return set(tbl.column("shard").to_pylist())


def build_resumable(
    spark,
    df,
    specs: list[SketchSpec],
    checkpoint_dir: str,
    n_shards: int = 8,
    group_cols: tuple[str, ...] = ("source",),
    tick_col=None,
    partitions: int | None = None,
    salt_mod: int = 16,
    stbf_fanin: int | None = None,
    fail_after_shard: int | None = None,
):
    """Build shard-by-shard with checkpointing; safe to re-invoke after
    a crash — completed shards are skipped via the lineage anti-join.

    ``fail_after_shard`` deliberately raises after N shards (test hook
    for the kill-and-resume gate in BASELINE.md).
    Returns load_state's {(spec, group): merged sketch}.
    """
    from pyspark.sql import functions as F

    state_path, lineage_path = _paths(checkpoint_dir)
    done = completed_shards(spark, checkpoint_dir, expect_n_shards=n_shards)
    shard_col = F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
    heal_swap(state_path)

    built = 0
    for shard in range(n_shards):
        if shard in done:
            continue
        sub = df.where(shard_col == shard)
        rows = build_sketches(
            sub, specs, group_cols=group_cols, tick_col=tick_col,
            partitions=partitions, salt_mod=salt_mod,
            # an STBF tier's union spans every shard's partials, so a
            # caller-requested split is multiplied by the shard count;
            # fanin<=1 means "no split" and must stay that way
            stbf_fanin=(stbf_fanin * n_shards) if stbf_fanin and stbf_fanin > 1 else None,
        ).collect()
        # sketch rows first, lineage row last: a shard is only
        # "completed" once its state is durable
        append_rows(state_path, [(*r, shard) for r in rows if r["spec"] != LINEAGE_SPEC],
                    SHARD_SCHEMA)
        # shard-level audit lineage (SURVEY §3.3): exact per-shard
        # row/token totals + ingest digest from the build's
        # per-partition lineage rows, plus the file-level provenance of
        # the scan. Hash shards read every input file (membership is
        # pmod(hash, n_shards)), so input_files is the full file set
        # per shard — plan metadata, not an extra data pass; empty for
        # non-file-backed frames.
        lin = lineage_from_rows(rows)
        meta = {
            "shard": shard,
            "n_shards": n_shards,
            "specs": [s.name for s in specs],
            "n_rows": sum(e["n_rows"] for e in lin),
            "n_tokens": sum(e["n_tokens"] for e in lin),
            "token_digest": corpus_digest(rows),
            "input_files": sorted(sub.inputFiles()),
        }
        append_rows(lineage_path, [(shard, json.dumps(meta, sort_keys=True))], LINEAGE_SCHEMA)
        built += 1
        if fail_after_shard is not None and built >= fail_after_shard:
            raise RuntimeError(f"injected failure after shard {shard}")
    return load_state(spark, checkpoint_dir)


def compact_checkpoint(spark, checkpoint_dir: str, now: int, drop_groups_before: int | None = None):
    """Decay-aware checkpoint GC: fold all shard rows per (spec, group),
    apply decay(now) to every time-decaying sketch, drop expired HLL
    ring buckets (group suffix '\\x1f<bucket>' older than
    ``drop_groups_before``), and rewrite the state as one compacted
    shard (-1). Safe to run any time: merges are idempotent-per-partial
    and the rewrite replaces the directory atomically at the end.

    This is the batch analogue of upstream's periodic IOLoop decay —
    at 10^12 scale it also bounds checkpoint growth: state stays
    O(groups × m) forever instead of O(shards × groups × m).

    Crash-safety: the rewrite renames the old state aside before
    moving the new state in, and load_state falls back to the aside
    copy if a crash struck between the two renames. NOTE this uses
    driver-local filesystem renames — on an object store deployment
    replace with a manifest swap (Iceberg snapshot commit).
    """
    state_path, _ = _paths(checkpoint_dir)
    sketches = load_state(spark, checkpoint_dir)
    rows = []
    for (spec, group), sk in sorted(sketches.items()):
        if drop_groups_before is not None and GROUP_SEP in group:
            try:
                if int(group.rsplit(GROUP_SEP, 1)[1]) < drop_groups_before:
                    continue
            except ValueError:
                pass
        if hasattr(sk, "decay"):
            sk.decay(now)
        rows.append((spec, group, sk.to_bytes(), sk.n_items, -1))
    swap_dir(lambda tmp: append_rows(tmp, rows, SHARD_SCHEMA), state_path)
    return load_state(spark, checkpoint_dir)


def load_state(spark, checkpoint_dir: str):
    """Read checkpointed shard rows (no Spark job), dedupe retries,
    return {(spec, group): merged sketch}. A missing checkpoint loads
    as {}."""
    state_path, _ = _paths(checkpoint_dir)
    # dedupe half-written retries: keep one row per (spec, group, shard)
    best = {}
    for r in read_table(state_path, SHARD_SCHEMA).to_pylist():
        key = (r["spec"], r["group"], r["shard"])
        if key not in best or r["n_items"] > best[key]["n_items"]:
            best[key] = r
    # merge in key order, so the result does not depend on file order
    return merge_rows_to_sketches(best[k] for k in sorted(best))
