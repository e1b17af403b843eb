"""Incremental cross-shard dedup — the composition of the library's two
halves (sketch membership x dedup family; SURVEY.md §2.4 seen_within +
§3.3 incremental shards).

The 100 TB workflow this serves: dedup a NEW ingest shard against the
whole corpus history WITHOUT re-joining history. History is carried by
two compact artifacts, both tiny relative to the corpus text:

- a decaying membership sketch (TBF/STBF) over 64-bit text
  fingerprints — megabytes, broadcast to every executor;
- an append-only fp ledger parquet ``(fp, doc_id, tick, shard)`` —
  ~30 bytes per RETAINED historical doc.

A new shard's docs probe the broadcast sketch executor-side
(``queries.seen_within_payloads``): zero false negatives in-window
means a miss is PROOF the doc is new, so only the hit fraction
(true dup rate + configured FPR) ever proceeds to exact verification —
a broadcast join of the (tiny) candidate fp set against the ledger.
The sketch FPR therefore costs ledger-scan work, never correctness:
the emitted flags are text-exact, which is what makes this operator
oracle-gateable with plain SQL (no bound verdicts needed).

Time-decaying semantics (the fuggetaboutit primitive): a historical
doc only suppresses a new clone while its fingerprint's latest
RETAINED sighting is within ``window`` ticks, i.e. tick in
[now - window + 1, now] — matching TimingBloomFilter.contains_batch
exactly. Once history decays, the next clone survives and re-enters
both the sketch and the ledger with its own tick. A query ``window``
may only narrow the sketch's ``window_ticks``, never widen it: older
sightings may already be decayed.

Scale shape per ingest: one shard-local shuffle (groupBy fp for the
intra-shard first-occurrence), one broadcast probe map, one
broadcast-semi-join against the ledger restricted to candidate fps,
zero joins against corpus text. State grows O(retained docs) in the
ledger and O(1) in the sketch.

Checkpoint layout. The four operators share the machinery above, each
under its own subdirectory of ``checkpoint_dir`` holding its own
``sketch_state``, ledgers and ``lineage``, so no operator's
compaction, shard numbering or recovery can touch another's:

    operator                     subdirectory  ledgers, in commit order
    incremental_dedup            (root)        fp_ledger
    incremental_near_dup         near/         band_ledger, sig_ledger
    incremental_passages         passages/     fp_ledger
    incremental_embedding_dedup  emb/          bucket_ledger, vec_ledger

The sketch indexes the first ledger's first column (its key); the
ledger's second column names the doc the key came from.

Commit order of one shard: heal every appended directory (below), then
the sketch rows, then the ledgers in the order above, then the
caller's ``pre_lineage_hook`` (caller-durable output such as the
streaming guard's clean stream), then the lineage row LAST. A shard is
complete once its lineage row is durable, and anything a caller writes
after it would be lost to a crash in between (a completed shard is
never re-run).

Recovery rules:

- lineage gating: sketch loads and ledger reads see only shards with a
  lineage row, so a crash before it leaves invisible orphan rows, and
  the retry reuses the orphan's shard id;
- merge-all: within the completed shards EVERY sketch row is merged,
  plus the always-valid shard=-1 row compaction writes. Not one row
  per shard, as state.load_state keeps for additive sketches: picking
  one row could keep an orphan and drop its retry's keys, a duplicate
  missed forever. The membership sketch is a union-only monoid, so an
  orphan's extra keys only add candidate hits the ledger verify
  rejects (n_items, advisory here, may double-count);
- ``exclude_epoch``: drops shards whose lineage meta carries that
  stream epoch, so the replay of a guard epoch that crashed after one
  operator committed does not treat that operator's own half-epoch
  output as history (every doc would be flagged a duplicate of itself).
  Compaction only runs after an epoch fully commits, so the shard=-1
  row never holds a same-epoch shard;
- heal-before-append: compaction and ledger expiry replace directories
  with io.swap_dir. A crash between its renames leaves only
  ``<dir>_old``, which readers fall back to and every commit restores
  (io.heal_swap) before appending: an append would otherwise create a
  new directory holding only the new rows and shadow the history.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import (LINEAGE_SCHEMA, SHARD_SCHEMA, append_rows, heal_swap, live_dir, read_table,
                  swap_dir)
from ..params import ScalingParams, TimingParams

DEDUP_SPEC = "dedup_fp"
LEDGER_DDL = "fp long, doc_id string, tick long, shard int"
ANNOTATED_DDL = (
    "doc_id string, fp long, tick long, "
    "is_dup_history boolean, is_dup_intra boolean, hist_doc_id string"
)
_DEFAULT_PARAMS = TimingParams(capacity=2_000_000, error=0.001, window_ticks=2**31)


def _ddl_cols(ddl: str) -> list[list[str]]:
    return [c.split(" ", 1) for c in ddl.split(", ")]


@dataclass(frozen=True)
class _Checkpoint:
    """One operator's checkpoint: its subdirectory, sketch spec name
    and ledgers ({name: DDL} in commit order). The module docstring
    states the layout, commit order and recovery rules it implements."""

    subdir: str
    spec: str
    ledgers: dict

    def path(self, checkpoint_dir: str, name: str) -> str:
        return os.path.join(checkpoint_dir, self.subdir, name)

    def _key_doc(self) -> list[str]:
        return [c for c, _ in _ddl_cols(next(iter(self.ledgers.values())))[:2]]

    def completed(self, checkpoint_dir: str) -> list[dict]:
        """Lineage metadata of the completed shards, in shard order."""
        metas = read_table(self.path(checkpoint_dir, "lineage"), LINEAGE_SCHEMA, ["meta"])
        return sorted((json.loads(m) for m in metas.column("meta").to_pylist()),
                      key=lambda m: m["shard"])

    def done(self, checkpoint_dir: str, exclude_epoch=None) -> list[int]:
        return [
            int(m["shard"])
            for m in self.completed(checkpoint_dir)
            if exclude_epoch is None or m.get("epoch") != int(exclude_epoch)
        ]

    def load(self, checkpoint_dir: str, exclude_epoch=None, with_raw: bool = False):
        """Merged membership sketch of the completed shards, None if
        none. ``with_raw=True`` returns ``(sketch, payload)``: when
        exactly one row contributed (the steady state after compaction)
        ``payload`` is its stored bytes, which the probe broadcasts
        as-is instead of re-serializing the sketch; else None."""
        from ..sketches import sketch_from_bytes

        done = self.done(checkpoint_dir, exclude_epoch)
        ok = {*done, -1} if done else set()
        payloads = [
            r["payload"]
            for r in read_table(self.path(checkpoint_dir, "sketch_state"), SHARD_SCHEMA,
                                ["spec", "group", "payload", "shard"]).to_pylist()
            if r["spec"] == self.spec and r["group"] == "" and r["shard"] in ok
        ]
        sk = None
        for p in payloads:
            sk = sketch_from_bytes(p) if sk is None else sk.merge(sketch_from_bytes(p))
        if with_raw:
            return sk, (payloads[0] if len(payloads) == 1 else None)
        return sk

    def ledger(self, spark, checkpoint_dir: str, name: str, done=None) -> DataFrame | None:
        """Ledger ``name``, None if never written; ``done`` restricts it
        to those shards. The explicit schema also reads a ledger that
        expiry rewrote empty (no part files)."""
        path = live_dir(self.path(checkpoint_dir, name))
        if not os.path.exists(path):
            return None
        df = spark.read.schema(self.ledgers[name]).parquet(path)
        return df if done is None else df.where(F.col("shard").isin(done))

    def compact(self, checkpoint_dir: str):
        """Fold the completed shards' sketch rows into one shard=-1 row
        (io.swap_dir); returns the merged sketch, None if empty."""
        sk = self.load(checkpoint_dir)
        if sk is not None:
            row = (self.spec, "", sk.to_bytes(), int(sk.n_items), -1)
            swap_dir(lambda tmp: append_rows(tmp, [row], SHARD_SCHEMA),
                     self.path(checkpoint_dir, "sketch_state"))
        return sk

    def probe(self, spark, checkpoint_dir: str, keys: DataFrame, now: int, window, exclude_epoch):
        """Probe the broadcast sketch with the key column of ``keys``.
        None when no shard has completed; else ``(hits, live, ledgers)``:
        the distinct keys seen within the window, the window's ``tick``
        predicate, and every ledger restricted to the completed shards."""
        from ..queries import _with_window, seen_within_payloads, sk_window

        sk, raw = self.load(checkpoint_dir, exclude_epoch, with_raw=True)
        if sk is None:
            return None
        w = window if window is not None else sk_window(sk)
        if w > sk_window(sk):
            raise ValueError(
                f"window {w} exceeds the sketch's window_ticks {sk_window(sk)}: "
                "older sightings may already be decayed, so widening at query "
                "time would produce false negatives"
            )
        if w != sk_window(sk):
            sk, raw = _with_window(sk, w), None  # the stored payload has the old window
        key = self._key_doc()[0]
        # the payload goes straight to the broadcast, without a
        # createDataFrame → collect round trip of the state bytes
        hits = (
            seen_within_payloads(
                spark, [("", raw if raw is not None else sk.to_bytes())],
                keys.select(F.col(key).alias("key")), now, only_seen=True,
            )
            .select(F.col("key").alias(key))
            .distinct()
        )
        done = self.done(checkpoint_dir, exclude_epoch)
        ledgers = {name: self.ledger(spark, checkpoint_dir, name, done) for name in self.ledgers}
        assert all(df is not None for df in ledgers.values()), (
            "completed shard without its ledgers"
        )
        return hits, F.col("tick").between(now - w + 1, now), ledgers

    def commit(self, spark, checkpoint_dir: str, now: int, params, partitions,
               rows: list[DataFrame], meta: dict, hook=None) -> None:
        """Append one shard in the commit order. ``rows`` are the
        ledgers' rows, in declared order and without the shard column;
        the sketch indexes the first ledger's keys. ``hook()`` runs just
        before the lineage row, whose meta is ``meta`` plus shard and now."""
        from ..pipeline import SketchSpec, build_sketches

        params = params if params is not None else _DEFAULT_PARAMS
        kind = "stbf" if isinstance(params, ScalingParams) else "tbf"
        key, doc = self._key_doc()
        shaped = rows[0].select(
            F.col(doc).alias("doc_id"),
            F.array(key).alias("tokens"),
            F.lit(1).alias("n_tok"),
            F.col("tick").cast("long").alias("tick"),
        )
        spec = SketchSpec(self.spec, kind, params, value="tokens")
        built = build_sketches(
            shaped, [spec], group_cols=(), tick_col=F.col("tick"), partitions=partitions,
        ).collect()
        shard = len(self.completed(checkpoint_dir))
        for name in ("sketch_state", *self.ledgers):
            heal_swap(self.path(checkpoint_dir, name))
        append_rows(self.path(checkpoint_dir, "sketch_state"),
                    [(*r, shard) for r in built if r["spec"] == self.spec], SHARD_SCHEMA)
        for (name, ddl), df in zip(self.ledgers.items(), rows):
            # cast to the DDL readers apply: e.g. an array<double>
            # embedding would commit fine and then fail every later read
            df.withColumn("shard", F.lit(shard)).selectExpr(
                *(f"cast({c} as {t}) {c}" for c, t in _ddl_cols(ddl))
            ).write.mode("append").parquet(self.path(checkpoint_dir, name))
        if hook is not None:
            hook()
        meta = {"shard": shard, "now": int(now), **meta}
        append_rows(self.path(checkpoint_dir, "lineage"),
                    [(shard, json.dumps(meta, sort_keys=True))], LINEAGE_SCHEMA)


_EXACT = _Checkpoint("", DEDUP_SPEC, {"fp_ledger": LEDGER_DDL})


def load_dedup_state(spark, checkpoint_dir: str, exclude_epoch=None,
                     with_raw: bool = False):
    """Merged membership sketch of the completed shards, or None if no
    shard ever completed; ``exclude_epoch`` and ``with_raw`` as in the
    module docstring and _Checkpoint.load."""
    return _EXACT.load(checkpoint_dir, exclude_epoch, with_raw)


def compact_dedup_checkpoint(spark, checkpoint_dir: str):
    """Fold every completed shard's sketch rows into ONE shard=-1 row,
    replacing the sketch_state directory (io.swap_dir). Without it every
    ingest re-merges O(shards) sketch rows. Ledgers and lineage are
    untouched; expire_ledgers bounds the ledgers. Safe and idempotent
    any time; returns the merged sketch (None if the checkpoint is
    empty)."""
    return _EXACT.compact(checkpoint_dir)


def ledger_df(
    spark, checkpoint_dir: str, completed_only: bool = True, exclude_epoch=None
) -> DataFrame | None:
    """The fp ledger, restricted (by default) to completed shards so a
    half-written ingest's rows are invisible."""
    done = _EXACT.done(checkpoint_dir, exclude_epoch) if completed_only else None
    return _EXACT.ledger(spark, checkpoint_dir, "fp_ledger", done)


def expire_ledgers(
    spark, checkpoint_dir: str, now: int, window: int | None = None
) -> dict:
    """Prune DECAYED rows from every ledger under ``checkpoint_dir``.
    Without this, ledgers grow monotonically: the query path filters
    out-of-window rows (so correctness never depended on expiry) but
    "state = O(retained docs)" silently becomes O(all docs ever) on a
    month-long ingest.

    A row is retained iff ``tick >= now - window + 1`` — the oldest
    tick any future query can see, because query windows may only ever
    NARROW a sketch's configured window and ``now`` is monotone.
    ``window`` defaults to each operator's own sketch window_ticks.
    Each ledger is rewritten via io.swap_dir. Safe and idempotent any
    time; the sketch itself needs no pruning — it decays by
    construction. Returns {ledger_name: rows_kept} over fp_ledger,
    band_ledger, sig_ledger, passage_ledger, bucket_ledger and
    vec_ledger, for the ledgers that exist."""
    from ..queries import sk_window

    kept: dict[str, int] = {}
    for cp in (_EXACT, _NEAR, _PASSAGES, _EMB):
        w = window
        for name in cp.ledgers:
            df = cp.ledger(spark, checkpoint_dir, name)
            if df is None:
                continue
            if w is None:
                sk = cp.load(checkpoint_dir)
                if sk is None:
                    break
                w = sk_window(sk)
            # localCheckpoint BEFORE the swap: the plan reads the very
            # directory the swap replaces (same cache-invalidation trap as
            # incremental_dedup's annotated frame)
            live = df.where(F.col("tick") >= F.lit(int(now) - int(w) + 1)).localCheckpoint(eager=True)
            swap_dir(lambda tmp, live=live: live.write.mode("overwrite").parquet(tmp),
                     cp.path(checkpoint_dir, name))
            # keys are unique across operators: the passages ledger
            # directory shares the exact operator's name fp_ledger
            kept["passage_ledger" if cp is _PASSAGES else name] = live.count()
            live.unpersist()
    return kept


def completed_shards(spark, checkpoint_dir: str) -> list[dict]:
    """Lineage metadata of completed ingests, in shard order."""
    return _EXACT.completed(checkpoint_dir)


def _shard_fps(new_df: DataFrame, text_col: str, tick_col, now: int) -> DataFrame:
    """The shard's (doc_id, fp, tick) frame — the only shape the exact
    incremental operator ever looks at (one row per doc, ~25 B)."""
    return new_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.xxhash64(F.col(text_col)).alias("fp"),
        (tick_col if tick_col is not None else F.lit(now)).cast("long").alias("tick"),
    )


def annotate_against_history(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    window: int | None = None,
    text_col: str = "text",
    tick_col=None,
    exclude_epoch=None,
    fps_df: DataFrame | None = None,
) -> DataFrame:
    """The LAZY annotated-flags plan incremental_dedup materializes:
    exposed separately so plan gates (tools/explain_plans.py) can
    .explain() the real operator — the probe must stay a pure map and
    the ledger verify a BroadcastHashJoin — instead of a hand-built
    replica. Callers who want the flags should use
    incremental_dedup(update_state=False): the raw plan re-reads the
    checkpoint on every action.

    ``fps_df``: a pre-computed (ideally localCheckpoint()ed) frame of
    _shard_fps(new_df, ...) — the returned plan references the fp
    frame THREE times (probe keys, intra-shard firsts, the annotated
    left side), so a caller that materializes it once saves two
    scan+hash passes over the shard text per action (incremental_dedup
    does exactly this)."""
    fps = fps_df if fps_df is not None else _shard_fps(new_df, text_col, tick_col, now)

    # ---- history probe: broadcast sketch, then exact ledger verify ----
    probed = _EXACT.probe(spark, checkpoint_dir, fps, now, window, exclude_epoch)
    if probed is None:
        verified = spark.createDataFrame([], "fp long, hist_doc_id string")
    else:
        hits, live, led = probed
        # candidates are the tiny side: broadcast them INTO the ledger
        # scan so history is filtered, never shuffled. max(tick) per fp
        # is the latest retained sighting (re-ingests after decay append
        # a fresh ledger row — and a crash-retried shard may have
        # appended its ledger rows twice, which this max collapses)
        verified = (
            led["fp_ledger"].join(F.broadcast(hits), "fp")
            .where(live)
            .groupBy("fp")
            .agg(F.max(F.struct("tick", "doc_id")).alias("_best"))
            .select("fp", F.col("_best.doc_id").alias("hist_doc_id"))
        )

    # ---- intra-shard first occurrence (shard-local shuffle) ----
    firsts = fps.groupBy("fp").agg(F.min("doc_id").alias("_first_doc"))

    return (
        fps.join(firsts, "fp")
        .join(F.broadcast(verified), "fp", "left")
        .select(
            "doc_id", "fp", "tick",
            F.col("hist_doc_id").isNotNull().alias("is_dup_history"),
            (
                F.col("hist_doc_id").isNull()
                & (F.col("doc_id") != F.col("_first_doc"))
            ).alias("is_dup_intra"),
            "hist_doc_id",
        )
    )


def incremental_dedup(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    window: int | None = None,
    params=None,
    text_col: str = "text",
    tick_col=None,
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
    pre_lineage_hook=None,
    exclude_epoch=None,
) -> DataFrame:
    """Dedup ``new_df`` against corpus history AND itself; optionally
    append the survivors to the history state. Returns the annotated
    frame (ANNOTATED_DDL), local-checkpointed so the flags are frozen
    before the state writes (see inline note) and the caller's actions
    never recompute the probe:

    - ``is_dup_history``: an EARLIER ingest retained a doc with the
      same text fingerprint whose tick is within the window —
      text-exact (sketch hits are verified against the ledger, so the
      sketch's FPR never leaks into the flags; sketch misses are
      proof-of-new because TBF/STBF have zero in-window false
      negatives).
    - ``is_dup_intra``: a same-fingerprint doc with a smaller doc_id
      exists in THIS shard (and the fp is not a history dup);
      first-occurrence-wins, ties broken by string doc_id order.
    - ``hist_doc_id``: for history dups, the retained doc that
      suppressed this one — the LATEST in-window sighting, tick ties
      broken by largest doc_id (deterministic).

    ``params``: TimingParams (TBF, default) or ScalingParams (STBF) for
    the membership sketch. Disjoint-key regime note (pipeline.
    build_sketches docstring): dedup guarantees each fp enters the
    sketch exactly once across ALL shards, so for STBF either size
    capacity for the expected corpus-wide distinct count or cap the
    expected shard count via params.max_fill_factor yourself.
    ``window`` narrows the query window below the sketch's configured
    ``window_ticks``. ``meta_extra`` joins the shard's lineage meta;
    ``pre_lineage_hook(ann)`` and ``exclude_epoch``: module docstring.
    """
    # one scan of the shard text: the annotated plan references the fp
    # frame three times (probe keys, intra-shard firsts, the annotated
    # left side) and an un-materialized fps would re-scan + re-hash the
    # shard per reference inside the localCheckpoint job below.
    # Shard-sized rows only (doc_id, fp, tick ≈ 25 B/doc).
    fps = _shard_fps(new_df, text_col, tick_col, now).localCheckpoint(eager=True)
    ann = annotate_against_history(
        spark, new_df, checkpoint_dir, now,
        window=window, text_col=text_col, tick_col=tick_col,
        exclude_epoch=exclude_epoch, fps_df=fps,
    )
    # localCheckpoint, not persist: the annotated plan READS the ledger
    # path this function is about to APPEND to, and Spark's cache
    # manager invalidates-and-recaches any cached plan whose source
    # path is written — a merely-persisted ann would be silently
    # recomputed against the post-write ledger, flagging every doc as
    # a duplicate of itself (observed). Checkpointing truncates the
    # lineage so the flags are frozen before any state mutation.
    ann = ann.localCheckpoint(eager=True)

    if update_state:
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_dup_history").cast("long")).alias("h"),
            F.sum(F.col("is_dup_intra").cast("long")).alias("i"),
        ).collect()[0]
        n, h, i = int(counts["n"]), int(counts["h"] or 0), int(counts["i"] or 0)
        survivors = ann.where(~F.col("is_dup_history") & ~F.col("is_dup_intra"))
        _EXACT.commit(
            spark, checkpoint_dir, now, params, partitions,
            [survivors.select("fp", "doc_id", "tick")],
            {"n_docs": n, "n_dup_history": h, "n_dup_intra": i, "n_retained": n - h - i,
             **(meta_extra or {})},
            hook=pre_lineage_hook and (lambda: pre_lineage_hook(ann)),
        )
    return ann


class StreamingIngestGuard:
    """Structured-Streaming front door for incremental dedup: a
    foreachBatch sink where every micro-batch is one ingest shard,
    deduped against the checkpointed membership state (history AND
    intra-batch) before its survivors are appended to the history
    checkpoint and — when ``clean_dir`` is given — written out as the
    DEDUPED output stream (the batch's original columns and doc_id
    type, epoch-partitioned).

    Exactly-once under foreachBatch's at-least-once contract, two
    layers deep:
    - a fully-committed epoch that gets REPLAYED after a restart is
      skipped outright (its epoch id is recorded in the shard lineage
      meta — which is the checkpoint's LAST write, strictly after the
      clean_dir output lands via incremental_dedup's pre_lineage_hook,
      so a skipped epoch has by construction already published its
      clean output; code-review r04 found the previous ordering could
      lose an epoch's output to a crash between lineage and clean);
    - a HALF-committed epoch (crash anywhere before lineage) is
      invisible to the loader (lineage-gated recovery) and its re-run
      is self-correcting by the operator's own semantics: any doc
      whose fingerprint already reached the ledger is flagged
      duplicate and retained zero times, so replaying docs can never
      double-enter history. The clean_dir output of a half-committed
      epoch is replaced on re-run (epoch-partitioned dynamic
      overwrite).

    ``now_for_epoch`` maps epoch_id → the dedup clock tick (default
    epoch_id + 1, monotone per trigger); pass your own to tie decay to
    event time.

    ``near=True`` (round 5, VERDICT r04 #3) additionally runs
    incremental_near_dup per micro-batch under the SAME epoch
    protocol: near state commits first (its own lineage under near/),
    the exact-dedup lineage row remains the FINAL epoch marker, and
    the clean output keeps only docs that survive BOTH operators.
    Replay of an epoch whose near half committed but whose final
    marker didn't re-runs near with ``exclude_epoch`` set, so a prior
    attempt's own shards are not treated as history (every doc would
    otherwise be flagged a near-dup of itself and the epoch's clean
    output lost); the retry's duplicate near-state rows are harmless —
    merge-all membership semantics — and bounded by compaction/expiry.

    ``expire_every`` (round 5, VERDICT r04 #1) prunes decayed ledger
    rows every N batches via expire_ledgers, keeping checkpoint bytes
    O(retained docs) on long-running windowed ingests.

    ``passages=True`` (round 5) additionally runs incremental_passages
    per micro-batch on the SURVIVOR set (inside the clean-publish
    hook, after exact/near filtering — code-review r05: committing
    passages of a doc that doc-level dedup then drops would mask
    future copies with no published keeper anywhere): surviving docs
    are published with every span that repeats a RETAINED historical
    passage masked out of ``text_col`` (drop-all-on-the-new-side;
    n_tokens_removed appended as ``_passage_tokens_removed``).
    Passage state commits under its own lineage strictly before the
    exact marker, with the same exclude_epoch replay protection;
    window/stride via passage_window / passage_stride, sketch sizing
    via passage_params (capacity ≈ retained distinct window fps).
    Requires ``clean_dir`` (the survivor set is only defined there).

    ``embeddings=True`` (round 5) adds the SEMANTIC granularity: each
    batch's ``emb_vec_col`` vectors (keyed by doc_id) are FLAGGED
    against history by incremental_embedding_dedup, and the PUBLISHED
    survivors' vectors are committed to semantic history inside the
    clean-publish hook (commit_emb_state — flags on the full batch,
    state from survivors only, so no unpublished vector can suppress
    future docs), all strictly before the exact epoch marker.
    ``emb_dim`` is required; geometry via emb_bits/emb_tables, sizing
    via emb_params. Scope note: INTRA-batch semantic duplicates are
    not filtered (same scoping as the operator itself — run
    embedding_near_dup on the batch upstream if needed); both copies
    publish and both vectors enter history.
    """

    def __init__(
        self,
        spark,
        checkpoint_dir: str,
        clean_dir: str | None = None,
        params=None,
        window: int | None = None,
        text_col: str = "text",
        partitions: int | None = None,
        now_for_epoch=None,
        compact_every: int | None = 64,
        near: bool = False,
        near_threshold: float = 0.8,
        near_num_hashes: int = 64,
        near_bands: int = 16,
        near_rows_per_band: int = 4,
        near_params=None,
        expire_every: int | None = None,
        passages: bool = False,
        passage_window: int = 50,
        passage_stride: int = 1,
        passage_params=None,
        embeddings: bool = False,
        emb_dim: int | None = None,
        emb_threshold: float = 0.9,
        emb_bits: int = 12,
        emb_tables: int = 8,
        emb_vec_col: str = "embedding",
        emb_params=None,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.clean_dir = clean_dir
        self.params = params
        self.window = window
        self.text_col = text_col
        self.partitions = partitions
        self.now_for_epoch = now_for_epoch or (lambda e: int(e) + 1)
        # every batch reloads-and-merges the sketch rows of all shards
        # (O(shards × payload)); periodic compaction folds them into
        # one shard=-1 row so per-trigger cost stays O(compact_every)
        # instead of growing forever (code-review r04)
        self.compact_every = compact_every
        self.near = near
        self.near_threshold = near_threshold
        self.near_num_hashes = near_num_hashes
        self.near_bands = near_bands
        self.near_rows_per_band = near_rows_per_band
        self.near_params = near_params
        self.expire_every = expire_every
        if passages and clean_dir is None:
            raise ValueError(
                "passages=True requires clean_dir: passage history is "
                "committed for the published survivor set only"
            )
        self.passages = passages
        self.passage_window = passage_window
        self.passage_stride = passage_stride
        self.passage_params = passage_params
        if embeddings and emb_dim is None:
            raise ValueError("embeddings=True requires emb_dim")
        if embeddings and clean_dir is None:
            # semantic state is committed only inside publish_clean
            # (survivor-only rule); without clean_dir the commit never
            # runs, emb history never grows, and the per-batch probe
            # burns compute while is_emb_dup_history stays false — a
            # silent no-op (ADVICE r05 #1; mirrors the passages guard)
            raise ValueError(
                "embeddings=True requires clean_dir: semantic history is "
                "committed for the published survivor set only"
            )
        self.embeddings = embeddings
        self.emb_dim = emb_dim
        self.emb_threshold = emb_threshold
        self.emb_bits = emb_bits
        self.emb_tables = emb_tables
        self.emb_vec_col = emb_vec_col
        self.emb_params = emb_params
        self._batches_done = 0

    def process_batch(self, batch_df, epoch_id: int) -> None:
        """foreachBatch body; callable directly for batch catch-up.
        Epoch ids are the dedup key for replay skipping, so don't mix
        hand-picked ids with a live stream's own numbering on the same
        checkpoint — a stream restarted with a fresh STREAM checkpoint
        restarts epochs at 0 and would skip batches whose ids a manual
        call already burned (observed in a verify drive)."""
        done = completed_shards(self.spark, self.checkpoint_dir)
        if any(m.get("epoch") == int(epoch_id) for m in done):
            return  # fully committed (incl. clean output — see class doc)
        ep, now = int(epoch_id), self.now_for_epoch(epoch_id)

        emb_ann = None
        if self.embeddings:
            # FLAGS ONLY here (update_state=False): semantic state is
            # committed inside publish_clean on the PUBLISHED survivor
            # set, so a doc dropped by exact/near dedup can never
            # leave its vector in history as an unpublished keeper
            # that suppresses future docs (code-review r05 fifth
            # pass — the passages survivor rule, applied here)
            emb_ann = incremental_embedding_dedup(
                self.spark, batch_df,
                self.checkpoint_dir, now=now, dim=self.emb_dim,
                threshold=self.emb_threshold, bits=self.emb_bits,
                tables=self.emb_tables, window=self.window,
                params=self.emb_params, partitions=self.partitions,
                vec_col=self.emb_vec_col, id_col="doc_id",
                update_state=False, exclude_epoch=ep,
            )

        near_ann = None
        if self.near:
            # near state commits under its own lineage, before the
            # exact lineage row below (the epoch's final marker). On a
            # crash-replay, exclude_epoch keeps a prior attempt's
            # committed near shards out of the history this attempt
            # probes (see class doc).
            near_ann = incremental_near_dup(
                self.spark, batch_df, self.checkpoint_dir, now=now,
                threshold=self.near_threshold,
                num_hashes=self.near_num_hashes,
                bands=self.near_bands,
                rows_per_band=self.near_rows_per_band,
                window=self.window, params=self.near_params,
                text_col=self.text_col, partitions=self.partitions,
                meta_extra={"epoch": ep}, exclude_epoch=ep,
            )

        def publish_clean(ann):
            if self.clean_dir is None:
                return
            keep = ann.where(
                ~F.col("is_dup_history") & ~F.col("is_dup_intra")
            ).select(F.col("doc_id").alias("_k"))
            if near_ann is not None:
                near_keep = near_ann.where(
                    ~F.col("is_near_dup_history") & ~F.col("is_near_dup_intra")
                ).select(F.col("doc_id").alias("_k"))
                keep = keep.join(F.broadcast(near_keep), "_k", "left_semi")
            if emb_ann is not None:
                emb_keep = emb_ann.where(
                    ~F.col("is_emb_dup_history")
                ).select(F.col("vec_id").alias("_k"))
                keep = keep.join(F.broadcast(emb_keep), "_k", "left_semi")
            # survivors keep the batch's ORIGINAL columns and doc_id
            # type — the join key is a derived string column, dropped
            # after the semi-join (code-review r04: the old path
            # silently retyped doc_id to string)
            out = (
                batch_df.withColumn("_k", F.col("doc_id").cast("string"))
                .join(F.broadcast(keep), "_k", "left_semi")
                .drop("_k")
                .withColumn("_epoch", F.lit(int(epoch_id)))
            )
            if self.embeddings:
                out = out.localCheckpoint(eager=True)
                # survivor-only semantic state commit (flags were
                # computed on the full batch above); no probe happens
                # here, so replay safety needs no epoch exclusion —
                # but the shard is epoch-tagged for it anyway
                commit_emb_state(
                    self.spark, out, self.checkpoint_dir, now=now,
                    dim=self.emb_dim, bits=self.emb_bits,
                    tables=self.emb_tables, params=self.emb_params,
                    vec_col=self.emb_vec_col, id_col="doc_id",
                    partitions=self.partitions,
                    meta_extra={"epoch": ep},
                )
            if self.passages:
                # frozen once: the survivor frame feeds the passage
                # kernel AND the mask join-back (code-review r05 —
                # an uncached self-referential join would re-execute
                # the batch scan + both semi-joins)
                out = out.localCheckpoint(eager=True)
                # passage state commits HERE — survivors only, so
                # every retained passage has a published keeper; own
                # lineage lands strictly before the exact marker
                pann = incremental_passages(
                    self.spark, out, self.checkpoint_dir, now=now,
                    window=self.passage_window, stride=self.passage_stride,
                    query_window=self.window, params=self.passage_params,
                    text_col=self.text_col, partitions=self.partitions,
                    meta_extra={"epoch": ep}, exclude_epoch=ep,
                )
                # annotation reused — no second kernel pass; the
                # collision-proof temp name keeps the original-columns
                # contract even if the batch already has text_clean
                masked = mask_against_history(
                    self.spark, out, window=self.passage_window,
                    text_col=self.text_col, ann=pann,
                ).select(
                    F.col("doc_id").cast("string").alias("_k"),
                    F.col("text_clean").alias("_fgs_text_clean"),
                    F.col("n_tokens_removed").alias("_passage_tokens_removed"),
                )
                out = (
                    out.withColumn("_k", F.col("doc_id").cast("string"))
                    .join(masked, "_k", "left")
                    .withColumn(self.text_col, F.col("_fgs_text_clean"))
                    .drop("_k", "_fgs_text_clean")
                )
            # epoch-partitioned dynamic overwrite: a re-run of a
            # half-committed epoch replaces exactly its own partition
            out.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("_epoch").parquet(self.clean_dir)
            if self.passages:
                # only AFTER the write: the mask join consumes the
                # checkpointed annotation lazily, and unpersisting a
                # localCheckpoint before its consumer runs would lose
                # the truncated lineage's only copy
                pann.unpersist()

        ann = incremental_dedup(
            self.spark,
            batch_df,
            self.checkpoint_dir,
            now=now,
            window=self.window,
            params=self.params,
            text_col=self.text_col,
            partitions=self.partitions,
            meta_extra={"epoch": ep},
            pre_lineage_hook=publish_clean,
            exclude_epoch=ep,
        )
        ann.unpersist()
        if near_ann is not None:
            near_ann.unpersist()
        if emb_ann is not None:
            emb_ann.unpersist()
        self._batches_done += 1
        if self.compact_every and self._batches_done % self.compact_every == 0:
            for on, cp in ((True, _EXACT), (self.near, _NEAR), (self.passages, _PASSAGES),
                           (self.embeddings, _EMB)):
                if on:
                    cp.compact(self.checkpoint_dir)
        if self.expire_every and self._batches_done % self.expire_every == 0:
            expire_ledgers(self.spark, self.checkpoint_dir, now=now)

    def start(self, input_path: str, schema, trigger_seconds: int | None = 2,
              stream_checkpoint: str | None = None):
        """Attach to a parquet-directory stream and return the
        StreamingQuery. ``trigger_seconds=None`` uses availableNow
        (drain what exists, then stop — deterministic for tests and
        batch-catchup runs); ``stream_checkpoint`` defaults to
        <checkpoint_dir>/_stream."""
        stream = self.spark.readStream.schema(schema).parquet(input_path)
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation",
            stream_checkpoint or os.path.join(self.checkpoint_dir, "_stream"),
        )
        if trigger_seconds is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()


# --------------------------------------------------------------------
# incremental NEAR-dup: cross-shard MinHash-LSH against checkpointed
# state
# --------------------------------------------------------------------

NEAR_SPEC = "near_dup_band"
BAND_LEDGER_DDL = "bkey long, doc_id string, tick long, shard int"
SIG_LEDGER_DDL = "doc_id string, sig array<long>, tick long, shard int"
NEAR_ANNOTATED_DDL = (
    "doc_id string, is_near_dup_history boolean, is_near_dup_intra boolean, "
    "hist_doc_id string, est_jaccard double"
)


_NEAR = _Checkpoint("near", NEAR_SPEC,
                    {"band_ledger": BAND_LEDGER_DDL, "sig_ledger": SIG_LEDGER_DDL})


def near_history_matches(
    spark,
    banded: DataFrame,
    sig: DataFrame,
    checkpoint_dir: str,
    now: int,
    threshold: float,
    num_hashes: int,
    window: int | None = None,
    exclude_epoch=None,
) -> DataFrame:
    """The LAZY history-match plan of incremental_near_dup — exposed,
    like annotate_against_history, so tools/explain_plans.py can gate
    the REAL operator's physical plan (VERDICT r04 "What's wrong" #1).

    Inputs: ``banded`` = the new shard's (doc_id, bkey) band keys,
    ``sig`` = its (doc_id, sig) minhash signatures. Output: one row per
    new doc with a retained in-window partner whose signature-match
    fraction >= threshold — (doc_id, hist_doc_id, est_jaccard), best
    partner per doc.

    Every join is EXPLICITLY broadcast on the shard side so history is
    filtered in place and never shuffled (nor chosen as a build side by
    a mis-estimating optimizer):
    - sketch hits (bounded by shard keys × hit rate) broadcast into
      the band-ledger scan;
    - candidate partner ids broadcast-semi into the sig-ledger scan;
    - the candidate pair table and fetched partner sigs broadcast into
      the shard's own signature frame.
    The only exchanges left are distinct/groupBy over SHARD-sized
    candidate rows."""
    probed = _NEAR.probe(spark, checkpoint_dir, banded, now, window, exclude_epoch)
    if probed is None:
        return spark.createDataFrame([], "doc_id string, hist_doc_id string, est_jaccard double")
    hits, live, led = probed
    # candidate pairs: new docs sharing a hit band key with a retained
    # doc. The shard side (banded ⋈ hits — bounded by shard size × hit
    # rate) is broadcast INTO the band-ledger scan, so the O(retained ×
    # bands) ledger is the streamed side and never shuffles
    probe = banded.join(F.broadcast(hits), "bkey")
    cand = (
        led["band_ledger"].where(live)
        .select("bkey", F.col("doc_id").alias("hist_doc_id"))
        .join(F.broadcast(probe), "bkey")
        .select("doc_id", "hist_doc_id")
        .distinct()
    )
    # verify with the minhash Jaccard estimate: fetch the candidate
    # partners' signatures — candidate ids broadcast-semi into the sig
    # ledger's columnar scan, which likewise never shuffles
    hist_ids = cand.select(F.col("hist_doc_id").alias("doc_id")).distinct()
    sig_led = (
        led["sig_ledger"]
        .join(F.broadcast(hist_ids), "doc_id", "left_semi")
        .select(F.col("doc_id").alias("hist_doc_id"), F.col("sig").alias("hsig"))
    )
    est = F.aggregate(
        F.zip_with("sig", "hsig", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    return (
        sig.join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(sig_led), "hist_doc_id")
        .select("doc_id", "hist_doc_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
        .groupBy("doc_id")
        .agg(F.max(F.struct("est_jaccard", "hist_doc_id")).alias("_best"))
        .select(
            "doc_id",
            F.col("_best.hist_doc_id").alias("hist_doc_id"),
            F.col("_best.est_jaccard").alias("est_jaccard"),
        )
    )


def incremental_near_dup(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    window: int | None = None,
    params=None,
    text_col: str = "text",
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
    pre_lineage_hook=None,
    exclude_epoch=None,
) -> DataFrame:
    """NEAR-duplicate dedup of a new ingest shard against checkpointed
    history — the MinHash-LSH analogue of incremental_dedup, and the
    same never-re-join-history shape at 100 TB:

    - history state = a decaying TBF over LSH BAND KEYS (a doc
      contributes ``bands`` keys) + a band ledger (bkey → retained
      doc, 30 B/key) + a sig ledger (doc → its num_hashes minhashes,
      ~0.5 KB/doc). All three are O(retained docs), independent of
      corpus text size.
    - a new shard's band keys probe the broadcast sketch: zero
      in-window false negatives ⇒ a doc NONE of whose band keys hit
      provably shares no band with retained history (exactly the docs
      a batch LSH self-join would never pair). Hit keys — true shared
      bands plus the sketch's FPR — fetch candidate partners from the
      band ledger, and candidate pairs are verified by the minhash
      Jaccard ESTIMATE (matching-signature fraction; the same
      estimator the batch chain verifies with before exact Jaccard).
      An exact text clone has an identical signature, so clones are
      flagged with certainty (est_jaccard = 1) — what the oracle pins.
    - survivors append their band keys, sigs, and lineage (the
      module docstring's commit order; replays self-correct exactly as
      in incremental_dedup).

    Flags: is_near_dup_history (some retained in-window doc's
    signature matches ≥ threshold), is_near_dup_intra (a same-shard
    doc with smaller doc_id matches ≥ threshold and the doc is not
    already a history dup), hist_doc_id = best-matching historical doc
    (max est_jaccard, ties → max doc_id), est_jaccard = that match's
    estimate. A checkpoint_dir may be shared with the other incremental
    operators (state under <checkpoint_dir>/near). ``meta_extra`` /
    ``pre_lineage_hook`` / ``exclude_epoch`` mirror incremental_dedup."""
    from .dedup import banded_signatures, minhash_signatures

    src = new_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
        F.lit("").alias("source"),
    )
    sig = minhash_signatures(src, num_hashes=num_hashes).select("doc_id", "sig")
    sig = sig.localCheckpoint(eager=True)  # one signature pass, reused below
    banded = banded_signatures(sig, bands, rows_per_band).select(
        "doc_id", F.xxhash64("band", "bucket").alias("bkey")
    )

    # ---- history probe over band keys (lazy plan: see
    # near_history_matches — explicitly broadcast shard-side, gated by
    # tools/explain_plans.py check 13) ----
    hist_matches = near_history_matches(
        spark, banded, sig, checkpoint_dir, now,
        threshold=threshold, num_hashes=num_hashes, window=window,
        exclude_epoch=exclude_epoch,
    )

    # ---- intra-shard near-dups (batch LSH within the new shard) ----
    from .dedup import minhash_lsh_candidates

    intra_cand = minhash_lsh_candidates(
        sig.select("doc_id", "sig"), bands, rows_per_band
    )
    intra_est = F.aggregate(
        F.zip_with("sa", "sb", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    # chain-safe keep-one (code-review r04: pairwise "larger id
    # loses" could delete BOTH ends of a chain): verified pairs form
    # transitive clusters via connected components — the same
    # clustering the batch pipeline uses — and each cluster retains
    # exactly its min doc_id. One-hop-chain caveat, identical to the
    # batch keep-cluster-min semantics: if the cluster min is itself a
    # history dup, the cluster is treated as covered through it.
    from .dedup import connected_components

    intra_pairs = (
        intra_cand
        .join(sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")), "doc_b")
        .where(intra_est >= threshold)
        .select("doc_a", "doc_b")
    ).localCheckpoint(eager=True)
    # connected_components short-circuits on an empty pair graph
    # (round 5, VERDICT r04 advisory #2), so no separate probe here
    intra = (
        connected_components(intra_pairs)
        .where(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
        .withColumn("_intra", F.lit(True))
    )

    ann = (
        sig.select("doc_id")
        .join(hist_matches, "doc_id", "left")
        .join(intra, "doc_id", "left")
        .select(
            "doc_id",
            F.col("hist_doc_id").isNotNull().alias("is_near_dup_history"),
            (
                F.col("hist_doc_id").isNull() & F.col("_intra").isNotNull()
            ).alias("is_near_dup_intra"),
            "hist_doc_id",
            "est_jaccard",
        )
    ).localCheckpoint(eager=True)

    if update_state:
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_near_dup_history").cast("long")).alias("h"),
            F.sum(F.col("is_near_dup_intra").cast("long")).alias("i"),
        ).collect()[0]
        n, h, i = int(counts["n"]), int(counts["h"] or 0), int(counts["i"] or 0)
        keep = ann.where(
            ~F.col("is_near_dup_history") & ~F.col("is_near_dup_intra")
        ).select("doc_id")
        tick = F.lit(now).alias("tick")
        _NEAR.commit(
            spark, checkpoint_dir, now, params, partitions,
            [banded.join(F.broadcast(keep), "doc_id").select("bkey", "doc_id", tick),
             sig.join(F.broadcast(keep), "doc_id").select("doc_id", "sig", tick)],
            {"kind": "near_dup", "n_docs": n, "n_near_dup_history": h,
             "n_near_dup_intra": i, "n_retained": n - h - i, **(meta_extra or {})},
            hook=pre_lineage_hook and (lambda: pre_lineage_hook(ann)),
        )
    return ann


def compact_near_checkpoint(spark, checkpoint_dir: str):
    """Near-dup analogue of compact_dedup_checkpoint."""
    return _NEAR.compact(checkpoint_dir)


# --------------------------------------------------------------------
# incremental PASSAGE-level dedup: repeated-passage masking
# of a new shard against checkpointed history — composes the rolling
# window-fingerprint kernel (dedup.passage_fingerprints) with the
# sketch+ledger incremental machinery above, completing the family:
# exact doc (incremental_dedup) / near doc (incremental_near_dup) /
# sub-document passage (this).
# --------------------------------------------------------------------

PASSAGE_SPEC = "passage_fp"
PASSAGE_LEDGER_DDL = "fp long, keep_doc string, keep_pos int, tick long, shard int"
PASSAGE_ANNOTATED_DDL = (
    "doc_id string, n_windows int, n_hist_windows int, hist_positions array<int>"
)


_PASSAGES = _Checkpoint("passages", PASSAGE_SPEC, {"fp_ledger": PASSAGE_LEDGER_DDL})


def compact_passages_checkpoint(spark, checkpoint_dir: str):
    """Passage analogue of compact_dedup_checkpoint."""
    return _PASSAGES.compact(checkpoint_dir)


def incremental_passages(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    window: int = 50,
    stride: int = 1,
    query_window: int | None = None,
    params=None,
    text_col: str = "text",
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
    pre_lineage_hook=None,
    exclude_epoch=None,
) -> DataFrame:
    """Flag every ``window``-token span of a new ingest shard whose
    fingerprint matches a passage RETAINED in checkpointed history —
    without re-joining history text. Returns one row per doc
    (PASSAGE_ANNOTATED_DDL): total window count, historical-window
    count, and the positions of historical spans (ready for masking —
    see mask_against_history). Docs shorter than ``window`` emit
    (0, 0, []) — whole-doc dedup owns that regime.

    State = a decaying membership sketch over 64-bit rolling window
    fingerprints + an fp ledger ``(fp, keep_doc, keep_pos, tick,
    shard)`` recording each retained passage's first-seen provenance.
    A shard's DISTINCT fps probe the broadcast sketch (zero in-window
    FN ⇒ a missed fp is provably a new passage); only hits verify
    against the ledger via broadcast join, so the sketch's FPR costs
    ledger-scan work, never a false mask — the flags are
    fp-exact, the same passage-identity standard the batch
    repeated_passages operator uses. Decay follows the library
    primitive: suppressed spans do NOT refresh history's tick, so a
    passage re-enters with its next occurrence after the window
    passes.

    State sizing: the ledger holds one ~30 B row per retained DISTINCT
    window fingerprint — O(tokens/stride) for novel text, the honest
    price of passage-granular history (raise ``stride`` to trade
    granularity for state; expiry prunes decayed rows). Size
    ``params.capacity`` for the expected retained distinct-fp count,
    not the doc count. Intra-shard repetition is deliberately out of
    scope — run the batch operator (mask_repeated_passages) on the
    shard first, then this against history.
    """
    from .dedup import passage_fingerprints

    src = new_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    # ONE kernel pass (rollup + positions), frozen so the probe,
    # verify, annotate, and state-update consumers never recompute it
    wf = passage_fingerprints(
        src, window=window, stride=stride, with_positions=True
    ).localCheckpoint(eager=True)

    probed = _PASSAGES.probe(
        spark, checkpoint_dir, wf.select("fp").distinct(), now, query_window, exclude_epoch
    )
    if probed is None:
        verified = spark.createDataFrame([], "fp long")
    else:
        hits, live, led = probed
        # NO forced broadcast anywhere in this operator: hits/verified
        # are fp-cardinality (~shard tokens/stride in the worst
        # re-crawl case), unlike the doc-cardinality sets the exact/
        # near operators broadcast — AQE broadcast-selects the common
        # small case and falls back to an fp-keyed shuffle otherwise
        verified = led["fp_ledger"].where(live).join(hits, "fp").select("fp").distinct()

    perdoc = wf.groupBy("doc_id").agg(
        F.sum(F.size("pos_list")).cast("int").alias("n_windows")
    )
    histdoc = (
        wf.join(verified, "fp")
        .groupBy("doc_id")
        .agg(
            F.sum(F.size("pos_list")).cast("int").alias("n_hist_windows"),
            F.sort_array(F.flatten(F.collect_list("pos_list"))).alias("hist_positions"),
        )
    )
    ann = (
        src.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .join(histdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_hist_windows", F.lit(0)).alias("n_hist_windows"),
            F.coalesce("hist_positions", F.array().cast("array<int>")).alias(
                "hist_positions"
            ),
        )
    ).localCheckpoint(eager=True)

    if update_state:
        # only NEW fps enter history (suppressed spans don't refresh
        # ticks — decay semantics), and only via OCCURRENCES whose span
        # does not overlap a historical span of the same doc: a
        # boundary window straddling a masked region would otherwise be
        # recorded as "retained" while mask_against_history drops most
        # of its tokens, so a later identical span would be masked with
        # NO surviving copy anywhere in the clean corpus. Spans [p, p+W) and [q, q+W) overlap iff |p-q| < W.
        # Conservative by construction for callers who don't mask:
        # an unrecorded fp merely re-enters on its next sighting.
        wf_clean = (
            wf.join(
                ann.select("doc_id", F.col("hist_positions").alias("_hp")),
                "doc_id",
            )
            .select(
                "doc_id",
                "fp",
                F.filter(
                    "pos_list",
                    lambda pp: ~F.exists(
                        F.col("_hp"),
                        lambda q: F.abs(pp - q) < F.lit(int(window)),
                    ),
                ).alias("pos_list"),
            )
            .where(F.size("pos_list") > 0)
        )
        # keeper = the shard-global first surviving occurrence
        # (min doc_id, then min pos), deterministic
        newfp = (
            wf_clean.join(verified, "fp", "left_anti")
            .groupBy("fp")
            .agg(
                F.min(
                    F.struct(
                        F.col("doc_id").alias("d"),
                        F.col("pos_list")[0].alias("p"),
                    )
                ).alias("_k")
            )
            .select(
                "fp",
                F.col("_k.d").alias("keep_doc"),
                F.col("_k.p").alias("keep_pos"),
            )
            .localCheckpoint(eager=True)
        )
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum("n_windows").alias("w"),
            F.sum("n_hist_windows").alias("h"),
        ).collect()[0]
        _PASSAGES.commit(
            spark, checkpoint_dir, now, params, partitions,
            [newfp.select("fp", "keep_doc", "keep_pos", F.lit(now).alias("tick"))],
            {"kind": "passages", "n_docs": int(counts["n"]), "n_windows": int(counts["w"] or 0),
             "n_hist_windows": int(counts["h"] or 0), **(meta_extra or {})},
            hook=pre_lineage_hook and (lambda: pre_lineage_hook(ann)),
        )
    return ann


def mask_against_history(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str | None = None,
    now: int | None = None,
    window: int = 50,
    stride: int = 1,
    text_col: str = "text",
    ann: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Masking front end of incremental_passages: drop every span of
    the new shard that repeats a retained historical passage (history
    keeps its copy — strict drop-ALL-on-the-new-side, the incremental
    complement of mask_repeated_passages' keep-one-corpus-wide).
    Returns (doc_id [original type], text_clean, n_tokens_removed).

    Pass ``ann`` (a frame already returned by incremental_passages for
    the SAME new_df/window) to reuse its annotation instead of paying
    a second kernel+probe pass; otherwise this calls
    incremental_passages itself with ``update_state=False`` by
    DEFAULT — masking that also commits state in one call is the
    exactly-once trap (a crash before the caller persists the masked
    text makes the re-run see the shard's own fps as history and mask
    everything away; code-review r05 #2). To commit state atomically
    with a durable masked output, call incremental_passages with a
    ``pre_lineage_hook`` that persists
    ``mask_against_history(..., ann=hook_arg)``."""
    if ann is None:
        kwargs.setdefault("update_state", False)
        ann = incremental_passages(
            spark, new_df, checkpoint_dir, now,
            window=window, stride=stride, text_col=text_col, **kwargs,
        )
    drops = ann.where(F.size("hist_positions") > 0).select(
        F.col("doc_id").alias("_k"), F.col("hist_positions").alias("_drops")
    )
    words = F.split(F.col(text_col), " ")
    # no-drops branch hoisted out of the per-element lambda (round 6,
    # same reasoning as mask_repeated_passages): docs with nothing to
    # mask skip the per-token filter entirely
    kept = F.when(F.col("_drops").isNull(), F.col("_words")).otherwise(
        F.filter(
            F.col("_words"),
            lambda w, i: ~F.exists(
                F.col("_drops"), lambda p: (i >= p) & (i < p + F.lit(window))
            ),
        )
    )
    return (
        new_df.withColumn("_k", F.col("doc_id").cast("string"))
        .join(drops, "_k", "left")  # shard-sized both sides; no broadcast
        # hint — a boilerplate-heavy shard's drop table can be wide
        .withColumn("_words", words)
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.array_join("_kept", " ").alias("text_clean"),
            (F.size("_words") - F.size("_kept")).cast("int").alias("n_tokens_removed"),
        )
    )


# --------------------------------------------------------------------
# incremental EMBEDDING-level dedup: semantic near-duplicate
# detection of a new shard against checkpointed history — the fourth
# granularity of the incremental family (exact doc / near doc /
# passage / semantic), reusing similarity.hyperplane_buckets'
# deterministic seeded planes so bucket keys agree across shards.
# --------------------------------------------------------------------

EMB_SPEC = "emb_dup_bucket"
EMB_BUCKET_LEDGER_DDL = "bkey long, vec_id string, tick long, shard int"
EMB_VEC_LEDGER_DDL = "vec_id string, embedding array<float>, tick long, shard int"
EMB_ANNOTATED_DDL = (
    "vec_id string, is_emb_dup_history boolean, hist_vec_id string, cosine double"
)


_EMB = _Checkpoint("emb", EMB_SPEC,
                   {"bucket_ledger": EMB_BUCKET_LEDGER_DDL, "vec_ledger": EMB_VEC_LEDGER_DDL})


def compact_emb_checkpoint(spark, checkpoint_dir: str):
    """Embedding analogue of compact_dedup_checkpoint."""
    return _EMB.compact(checkpoint_dir)


def _emb_planes(dim: int, bits: int, tables: int, seed_base: int = 101):
    """The stacked (tables·bits, dim) hyperplane matrix — the
    per-table plane sets (identical construction to
    similarity.hyperplane_buckets, seed_base + 13·t) concatenated so
    one matmul yields every table's projections. Pure function of the
    seed: the key kernel and the round-6 verify kernel both call this,
    so bucket keys can never drift between them."""
    import numpy as np

    from ..hashing import splitmix64

    return np.concatenate([
        np.where(
            (splitmix64(
                np.arange(bits * dim, dtype=np.uint64)
                + np.uint64((seed_base + 13 * t) * 0x9E37)
            ) & np.uint64(1)).astype(bool),
            1.0, -1.0,
        ).reshape(bits, dim)
        for t in range(tables)
    ]).astype(np.float32)


def _emb_table_keys(
    df: DataFrame, dim: int, bits: int, tables: int,
    vec_col: str = "embedding", id_col: str = "vec_id", seed_base: int = 101,
) -> DataFrame:
    """(vec_id, bkey): ``tables`` bucket keys per vector from ONE
    matmul per Arrow batch — the stacked plane matrix (_emb_planes)
    means the input plan executes once instead of ``tables`` times and
    the key frame never carries the vectors (code-review r05 third
    pass #3/#4). Keys are splitmix64(bucket ⊕ mix(t)) — deterministic
    across shards and partitionings."""
    import numpy as np
    import pyarrow as pa

    from ..hashing import splitmix64

    planes = _emb_planes(dim, bits, tables, seed_base)
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
    tsalt = splitmix64(np.arange(tables, dtype=np.uint64) + np.uint64(0xE3B))

    def assign(iterator):
        for tbl in iterator:
            col = tbl.column(vec_col)
            n = len(tbl)
            # fail loudly on null / wrong-length vectors: a null list
            # contributes 0 elements, so an unguarded reshape either
            # aborts cryptically or — if length errors cancel — shifts
            # every later row onto WRONG bucket keys (silent false
            # negatives; code-review r05 fifth pass #3)
            if col.null_count:
                raise ValueError(f"{vec_col} contains {col.null_count} null vectors")
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
            if flat.size != n * dim:
                raise ValueError(
                    f"{vec_col} is ragged: {n} vectors yield {flat.size} "
                    f"floats, expected {n * dim} (dim={dim})"
                )
            proj = flat.reshape(n, dim) @ planes.T            # (n, T*B)
            signs = (proj > 0).astype(np.int64).reshape(n, tables, bits)
            buckets = (signs * weights).sum(axis=2)           # (n, T)
            with np.errstate(over="ignore"):
                bkey = splitmix64(buckets.astype(np.uint64) ^ tsalt)
            yield pa.RecordBatch.from_pydict(
                {
                    id_col: tbl.column(id_col).take(
                        pa.array(np.repeat(np.arange(n, dtype=np.int64), tables))
                    ),
                    "bkey": pa.array(bkey.reshape(-1).view(np.int64), pa.int64()),
                }
            )

    src = df.select(id_col, vec_col)
    id_t = src.schema[id_col].dataType.simpleString()
    return src.mapInArrow(assign, schema=f"{id_col} {id_t}, bkey long")


def _emb_check_geometry(checkpoint_dir: str, bits: int, tables: int, dim: int):
    """Bucket-key geometry must match the checkpoint's: keys computed
    with different bits/tables/dim never collide with retained keys,
    so every probe would silently miss. The geometry is recorded in
    each shard's lineage meta."""
    prior = [m for m in _EMB.completed(checkpoint_dir) if "bits" in m]
    if prior:
        g = prior[-1]
        if (int(g["bits"]), int(g["tables"]), int(g["dim"])) != (bits, tables, dim):
            raise ValueError(
                f"emb checkpoint was built with bits={g['bits']} "
                f"tables={g['tables']} dim={g['dim']}; probing with "
                f"bits={bits} tables={tables} dim={dim} would yield "
                "silent false negatives"
            )


def _emb_hist_matches(
    spark,
    src: DataFrame,
    keyed: DataFrame,
    checkpoint_dir: str,
    now: int,
    threshold: float,
    dim: int,
    bits: int,
    tables: int,
    window: int | None = None,
    exclude_epoch=None,
) -> DataFrame:
    """The LAZY history-match plan of incremental_embedding_dedup —
    sketch probe over bucket keys, bucket-ledger candidate fetch, exact
    cosine verify against the vec ledger. Exposed (via
    emb_annotate_plan) so plan tools can explain the REAL operator."""
    probed = _EMB.probe(spark, checkpoint_dir, keyed, now, window, exclude_epoch)
    if probed is None:
        return spark.createDataFrame([], "vec_id string, hist_vec_id string, cosine double")
    hits, live, led = probed
    # exact-cosine verify, round-6 shape (guide §8: decide with small
    # rows, move heavy bytes once; §4.2: vectorized native code inside
    # the kernel). The round-5 plan fetched candidates via a
    # ledger ⋈ broadcast join, DISTINCTed the 2.5 M-pair stream,
    # collected it into a JVM broadcast relation, attached BOTH
    # vectors per pair with two more broadcast joins, and folded the
    # 2·dim cosine per pair through Catalyst's higher-order-function
    # interpreter — measured 11+ s of the 15.7 s bench probe. Every
    # one of those structures was already bounded by the sketch-hit
    # candidate set and already passed through the DRIVER (broadcast
    # relations are driver-collected); round 6 keeps exactly that
    # bound but drops the ceremony:
    # - the hit-key bucket-ledger subset (bkey, hist_vec_id) is
    #   collected once — history itself is still filtered in place by
    #   a broadcast semi of the (tiny) hit-key set and never shuffles;
    # - the candidate partners' vectors (the same semi-join-restricted
    #   set the old plan broadcast as a join side) are collected once;
    # - both broadcast as a bkey→partners CSR + a float32 matrix, and
    #   ONE mapInArrow kernel over the shard re-derives each vector's
    #   bucket keys (same seeded planes), looks up partners, and
    #   computes all pair cosines in double precision, emitting only
    #   pairs at cosine >= threshold.
    # The whole verify is one pure map over the shard — zero joins,
    # zero pair-stream shuffles, vectors crossing Arrow once.
    led_hits = (
        led["bucket_ledger"].where(live)
        .select("bkey", F.col("vec_id").alias("hist_vec_id"))
        .join(F.broadcast(hits), "bkey")
        .toArrow()
    )
    hist_ids = led_hits.column("hist_vec_id").unique()
    # Arrow fast path for the candidate-id frame: a row-list
    # createDataFrame ships O(candidates) strings through py4j one
    # batch of pickled rows at a time — single-threaded driver work
    # that a steal burst magnifies (guide §6 Arrow-for-driver-
    # transfers; arrow.pyspark is enabled in get_spark)
    import pandas as pd

    hist_ids_df = spark.createDataFrame(
        pd.DataFrame({"vec_id": hist_ids.to_pandas().astype(str)}),
        schema="vec_id string",  # explicit: inference fails on empty
    )
    hvec_rows = (
        led["vec_ledger"]
        .join(F.broadcast(hist_ids_df), "vec_id", "left_semi")
        .select("vec_id", "embedding")
        .toArrow()
    )
    bc_cand = _broadcast_emb_candidates(spark, led_hits, hvec_rows)
    scored = src.mapInArrow(
        _make_emb_verify_udf(bc_cand, threshold, dim, bits, tables),
        schema="vec_id string, hist_vec_id string, cosine double",
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.max(F.struct("cosine", "hist_vec_id")).alias("_best"))
        .select(
            "vec_id",
            F.col("_best.hist_vec_id").alias("hist_vec_id"),
            F.col("_best.cosine").alias("cosine"),
        )
    )


def _broadcast_emb_candidates(spark, led_hits, hvec_rows):
    """Build + broadcast the verify kernel's lookup state from the
    hit-restricted bucket-ledger rows and the candidate partners'
    vectors: a sorted-bkey CSR (bkey → partner matrix rows) plus the
    float32 vector matrix and its float64 norms. Memory bound =
    O(hit-key ledger rows + candidate partners × dim) — the same
    candidate-restricted set the round-5 plan drove through
    F.broadcast(cand)/F.broadcast(hvecs) JVM relations (which are
    driver-collected too), so the worst-case-re-crawl ceiling noted in
    VERDICT r05 is unchanged, just relocated and paid once instead of
    three times."""
    import numpy as np
    import pyarrow.compute as pc

    ids = hvec_rows.column("vec_id").combine_chunks()
    emb = hvec_rows.column("embedding").combine_chunks()
    flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
    n = len(ids)
    counts = np.diff(emb.offsets.to_numpy(zero_copy_only=False).astype(np.int64))
    if n and not (counts == counts[0]).all():
        raise ValueError("vec ledger holds ragged embeddings")
    d = int(counts[0]) if n else 0
    mat = flat.reshape(n, d) if n else flat.reshape(0, 0)
    f64 = mat.astype(np.float64)
    norms = np.sqrt((f64 * f64).sum(axis=1))
    # ledger rows → (bkey, matrix row); partners whose vector is
    # absent from the vec ledger are dropped, matching the old
    # inner-join-with-hvecs semantics
    bkeys = led_hits.column("bkey").combine_chunks().to_numpy(zero_copy_only=False)
    ridx = pc.index_in(
        led_hits.column("hist_vec_id").combine_chunks(), value_set=ids
    )
    rvalid = pc.is_valid(ridx).to_numpy(zero_copy_only=False)
    ridx_np = ridx.to_numpy(zero_copy_only=False)
    if not rvalid.all():
        bkeys, ridx_np = bkeys[rvalid], ridx_np[rvalid]
    ridx_np = ridx_np.astype(np.int32)
    order = np.argsort(bkeys, kind="stable")
    sb, partner_rows = bkeys[order], ridx_np[order]
    if sb.size:
        first = np.empty(sb.size, dtype=bool)
        first[0] = True
        first[1:] = sb[1:] != sb[:-1]
        starts = np.flatnonzero(first)
        uniq_bkeys = sb[starts]
        csr_off = np.append(starts, sb.size).astype(np.int64)
    else:
        uniq_bkeys = sb
        csr_off = np.zeros(1, np.int64)
    # ids stay a pyarrow Array end to end: it pickles via Arrow IPC
    # (no 10^5-element Python string list), and the kernel can .take()
    # it directly instead of rebuilding a string array per task
    return spark.sparkContext.broadcast(
        (uniq_bkeys, csr_off, partner_rows, ids, mat, norms)
    )


def _make_emb_verify_udf(bc_cand, threshold: float, dim: int, bits: int, tables: int):
    """mapInArrow verify kernel over the bare shard (vec_id,
    embedding) rows: re-derive each vector's ``tables`` bucket keys
    from the same seeded planes (_emb_planes — deterministic, shared
    with _emb_table_keys), look the keys up in the broadcast CSR,
    gather partner vectors from the broadcast matrix, and emit every
    (vec_id, hist_vec_id, cosine) pair at cosine >= threshold. All
    double precision, fully vectorized — no per-row Python, no joins,
    shard vectors cross the Arrow boundary exactly once. A partner
    reachable through several tables is scored more than once; the
    downstream max-per-vec aggregation is insensitive to that, and
    deduplicating here would cost a per-batch sort for nothing.
    Zero-norm guard preserved: an all-zero embedding has no direction
    and never matches anything (code-review r05 third pass #1)."""
    import numpy as np
    import pyarrow as pa

    from ..hashing import splitmix64

    planes = _emb_planes(dim, bits, tables)
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
    tsalt = splitmix64(np.arange(tables, dtype=np.uint64) + np.uint64(0xE3B))

    def verify(iterator):
        uniq_bkeys, csr_off, partner_rows, id_arr, mat, hnorms = bc_cand.value
        for tbl in iterator:
            n = len(tbl)
            if n == 0 or uniq_bkeys.size == 0:
                continue
            col = tbl.column("embedding")
            if col.null_count:
                raise ValueError(f"embedding contains {col.null_count} null vectors")
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
            if flat.size != n * dim:
                raise ValueError(
                    f"embedding is ragged: {n} vectors yield {flat.size} "
                    f"floats, expected {n * dim} (dim={dim})"
                )
            evec = flat.reshape(n, dim)
            proj = evec @ planes.T
            signs = (proj > 0).astype(np.int64).reshape(n, tables, bits)
            buckets = (signs * weights).sum(axis=2)
            with np.errstate(over="ignore"):
                bkey = splitmix64(buckets.astype(np.uint64) ^ tsalt).reshape(-1)
            kf = bkey.view(np.int64)
            pos = np.searchsorted(uniq_bkeys, kf)
            pos[pos == uniq_bkeys.size] = 0  # clamp; equality check below
            found = uniq_bkeys[pos] == kf
            cnt = np.where(found, csr_off[pos + 1] - csr_off[pos], 0)
            total = int(cnt.sum())
            if total == 0:
                continue
            out_off = np.concatenate([np.zeros(1, np.int64), np.cumsum(cnt)])
            idxs = (
                np.arange(total, dtype=np.int64)
                - np.repeat(out_off[:-1], cnt)
                + np.repeat(np.where(found, csr_off[pos], 0), cnt)
            )
            pidx = partner_rows[idxs].astype(np.int64)
            rows = np.repeat(np.arange(n * tables, dtype=np.int64) // tables, cnt)
            e64 = evec.astype(np.float64)
            enorm = np.sqrt((e64 * e64).sum(axis=1))
            dots = (e64[rows] * mat[pidx].astype(np.float64)).sum(axis=1)
            nprod = enorm[rows] * hnorms[pidx]
            posn = nprod > 0
            cos = np.full(rows.size, -1.0)
            cos[posn] = dots[posn] / nprod[posn]
            keep = cos >= threshold
            if not keep.any():
                continue
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": tbl.column("vec_id").take(pa.array(rows[keep])),
                    "hist_vec_id": id_arr.take(pa.array(pidx[keep])),
                    "cosine": pa.array(cos[keep], pa.float64()),
                }
            )

    return verify


def emb_annotate_plan(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    dim: int,
    threshold: float = 0.9,
    bits: int = 12,
    tables: int = 8,
    window: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_epoch=None,
) -> DataFrame:
    """The LAZY annotated-flags plan incremental_embedding_dedup
    materializes (EMB_ANNOTATED_DDL) — exposed, like
    annotate_against_history / near_history_matches, so plan tools can
    .explain() the real operator. Callers who want the flags should
    use incremental_embedding_dedup(update_state=False): this raw plan
    re-reads the checkpoint on every action."""
    _emb_check_geometry(checkpoint_dir, bits, tables, dim)
    src = new_df.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )
    keyed = _emb_table_keys(
        src, dim=dim, bits=bits, tables=tables,
        vec_col="embedding", id_col="vec_id",
    ).localCheckpoint(eager=True)
    hist_matches = _emb_hist_matches(
        spark, src, keyed, checkpoint_dir, now,
        threshold=threshold, dim=dim, bits=bits, tables=tables,
        window=window, exclude_epoch=exclude_epoch,
    )
    return (
        src.select("vec_id")
        .join(hist_matches, "vec_id", "left")
        .select(
            "vec_id",
            F.col("hist_vec_id").isNotNull().alias("is_emb_dup_history"),
            "hist_vec_id",
            "cosine",
        )
    )


def incremental_embedding_dedup(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    dim: int,
    threshold: float = 0.9,
    bits: int = 12,
    tables: int = 8,
    window: int | None = None,
    params=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    partitions: int | None = None,
    update_state: bool = True,
    meta_extra: dict | None = None,
    pre_lineage_hook=None,
    exclude_epoch=None,
) -> DataFrame:
    """Flag every vector of a new ingest shard whose cosine similarity
    to a RETAINED in-window historical vector is >= ``threshold`` —
    without re-joining history. Returns EMB_ANNOTATED_DDL, one row per
    input vector (hist_vec_id / cosine = the best historical match).

    History state: a decaying membership sketch over hyperplane-LSH
    BUCKET KEYS (``tables`` independent seeded plane sets × ``bits``
    sign bits; a vector contributes ``tables`` keys, deterministic
    across shards because the planes derive from the seed alone) + a
    bucket ledger (bkey → retained vec, 30 B/key) + a vec ledger
    carrying the retained embeddings (~4·dim B/vec — the honest price
    of exact cosine verification; expiry prunes decayed rows). A new
    shard's keys probe the broadcast sketch: zero in-window false
    negatives ⇒ a vector NONE of whose keys hit provably shares no
    bucket with retained history. Hit keys fetch candidate partners
    from the bucket ledger, and candidates are verified by EXACT
    cosine against the vec ledger — the sketch's FPR and LSH
    collisions cost verification work, never a false flag.

    Detection semantics: an exact duplicate vector of a retained one
    is flagged with CERTAINTY (identical keys in every table, cosine
    1.0 — what the oracle pins); a near-duplicate at cos θ is caught
    with probability 1-(1-(1-θ_angle/π)^bits)^tables (≈ 0.999 at
    cos 0.99 with the defaults), reproducible because planes and
    vectors are fixed. Intra-shard duplicates are out of scope — run
    embedding_near_dup on the shard first (same composition rule as
    incremental_passages)."""
    _emb_check_geometry(checkpoint_dir, bits, tables, dim)

    src = new_df.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )
    # one fused kernel pass (all tables in one matmul, vectors not
    # carried); frozen so probe and state-update never recompute it
    keyed = _emb_table_keys(
        src, dim=dim, bits=bits, tables=tables,
        vec_col="embedding", id_col="vec_id",
    ).localCheckpoint(eager=True)

    hist_matches = _emb_hist_matches(
        spark, src, keyed, checkpoint_dir, now,
        threshold=threshold, dim=dim, bits=bits, tables=tables,
        window=window, exclude_epoch=exclude_epoch,
    )

    ann = (
        src.select("vec_id")
        .join(hist_matches, "vec_id", "left")
        .select(
            "vec_id",
            F.col("hist_vec_id").isNotNull().alias("is_emb_dup_history"),
            "hist_vec_id",
            "cosine",
        )
    ).localCheckpoint(eager=True)

    if update_state:
        counts = ann.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_emb_dup_history").cast("long")).alias("h"),
        ).collect()[0]
        n, h = int(counts["n"]), int(counts["h"] or 0)
        keep = ann.where(~F.col("is_emb_dup_history")).select("vec_id")
        tick = F.lit(now).alias("tick")
        _EMB.commit(
            spark, checkpoint_dir, now, params, partitions,
            [keyed.join(F.broadcast(keep), "vec_id").select("bkey", "vec_id", tick),
             src.join(F.broadcast(keep), "vec_id").select("vec_id", "embedding", tick)],
            {"kind": "emb_dup", "bits": bits, "tables": tables, "dim": dim, "n_vecs": n,
             "n_emb_dup_history": h, "n_retained": n - h, **(meta_extra or {})},
            hook=pre_lineage_hook and (lambda: pre_lineage_hook(ann)),
        )
    return ann


def commit_emb_state(
    spark,
    new_df: DataFrame,
    checkpoint_dir: str,
    now: int,
    dim: int,
    bits: int = 12,
    tables: int = 8,
    params=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    partitions: int | None = None,
    meta_extra: dict | None = None,
) -> None:
    """Append ``new_df``'s vectors to the emb history WITHOUT probing
    — the survivor-commit half of a split flag-then-publish protocol:
    annotate the full batch with update_state=False, decide what gets
    published, then commit exactly the published set here (the guard's
    embeddings mode does this; committing unpublished vectors would
    let them suppress future docs with no published keeper). Geometry
    must match the checkpoint's (validated, like the probe path)."""
    _emb_check_geometry(checkpoint_dir, bits, tables, dim)
    src = new_df.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )
    keyed = _emb_table_keys(
        src, dim=dim, bits=bits, tables=tables,
        vec_col="embedding", id_col="vec_id",
    ).localCheckpoint(eager=True)
    n = src.count()
    tick = F.lit(now).alias("tick")
    _EMB.commit(
        spark, checkpoint_dir, now, params, partitions,
        [keyed.select("bkey", "vec_id", tick), src.select("vec_id", "embedding", tick)],
        {"kind": "emb_dup", "bits": bits, "tables": tables, "dim": dim, "n_vecs": n,
         "n_emb_dup_history": 0, "n_retained": n, **(meta_extra or {})},
    )
