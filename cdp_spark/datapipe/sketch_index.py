"""Persisted SKETCH index (HLL registers + CMS counters) with
incremental SNAPSHOT folds — the "distinct users per segment over a
growing 100 TB event log, without ever rescanning it" lifecycle.

The dedup/retrieval indexes (``dedup_index``, ``retrieval_index``)
persist DELTA folds and pay for it with a compaction lifecycle
(foldcount sidecars, compaction locks) because their state grows with
the corpus.  Sketch state does NOT: an HLL-by-group register table is
O(groups x 2^p) rows and a CMS is depth x width counters REGARDLESS of
input volume — that bound is the whole point of the sketch family.  So
this index makes the opposite LSM trade: **every fold rewrites the
full merged state** (an LSM whose every flush is a full compaction):

    fold(epoch e) = merge(state at the committed pointer, sketch(increment))
                    written to  <stat>/fold=[<lineage>-]e<e>/  (overwrite)

- fold cost O(state + increment) — and state is tiny by construction;
- reads are O(1): ONE snapshot directory, never a fold-union merge,
  no compaction step, no compaction lock, ever;
- replay-idempotent under foreachBatch's at-least-once: the merge
  inputs are (committed snapshot, increment), both unchanged on
  replay, and the epoch directory is overwritten wholesale; the
  state pointer only advances AFTER the parquet writes commit.

Merges are lossless, so *fold-then-estimate equals estimate over a
from-scratch sketch of the full corpus, exactly*: HLL registers merge
by per-register ``max`` (associative, commutative, idempotent —
Flajolet et al. 2007) and CMS counters merge by ``sum`` (Cormode &
Muthukrishnan 2005).  That identity is the oracle contract: the
driver replays the folded estimate against DuckDB's full-corpus twin
(``hll_by_oracle_sql`` / ``cms_oracle_sql``) and both engines must
hash-match bit-for-bit.

Layout::

    <path>/_cdp_index_meta.json  params (col/group_cols/p, cms shape)
    <path>/_state.json           {"dir": "fold=e3", "epoch": 3,
                                  "lineage": null} — the committed
                                  snapshot pointer + replay watermark,
                                  written atomically (temp + rename)
    <path>/hll/fold=base/        (group..., register, max_rank)
    <path>/hll/fold=e<N>/        full merged state at epoch N
    <path>/cms/fold=.../         (row, bucket, cnt), same chain

Single-writer contract (the family's): one fold driver per index at a
time — the snapshot chain is linear.  A RE-CREATED checkpoint (epoch
ids restart at 0) passes a fresh ``lineage`` tag: the epoch-skip
watermark is lineage-scoped, while the snapshot pointer is global, so
the new lineage's first fold continues from the latest committed
state instead of skipping behind a stale epoch number.

Reference parity: superset scope — the reference has no persisted
sketch state (its sketches live per-window in step functions); this
is the training-pipeline lifecycle (SURVEY §2 extensions), the
sketch twin of ``dedup_index``'s fold contract.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sketches as sk
from .dedup_index import _read_meta, _write_meta

_STATE_NAME = "_state.json"


def _read_state(path: str) -> dict:
    with open(os.path.join(path, _STATE_NAME)) as f:
        return json.load(f)


def _write_state(path: str, state: dict) -> None:
    tmp = os.path.join(path, _STATE_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, _STATE_NAME))


def _hll_state(df: DataFrame, meta: dict) -> DataFrame:
    return sk.hll_registers_by(
        df, list(meta["group_cols"]), meta["col"], int(meta["p"])
    )


def _cms_state(df: DataFrame, meta: dict) -> DataFrame:
    c = meta["cms"]
    return sk.cms_sketch(
        df, c["col"], depth=int(c["depth"]), width=int(c["width"])
    )


def _bloom_state(df: DataFrame, meta: dict) -> DataFrame:
    b = meta["bloom"]
    return sk.bloom_positions(
        df, b["col"], n_bits=int(b["n_bits"]), k=int(b["k"])
    )


def _hist_state(df: DataFrame, meta: dict) -> DataFrame:
    """(bin, cnt) over FIXED bounds — unlike the ad-hoc
    :func:`~cdp_spark.datapipe.sketches.histogram_sketch` (which
    derives lo/hi from the data), the indexed histogram PINS its
    bucket boundaries in the meta, because counters from different
    folds only merge when their bins mean the same interval — the
    Prometheus fixed-buckets rule.  Out-of-range values clamp into
    the edge bins (documented estimator semantics, not data loss)."""
    h = meta["hist"]
    lo, hi, bins = float(h["lo"]), float(h["hi"]), int(h["bins"])
    width = (hi - lo) / bins
    c = F.col(h["col"]).cast("double")
    bin_ = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((c - F.lit(lo)) / F.lit(width))),
    ).cast("long")
    return (
        df.where(F.col(h["col"]).isNotNull())
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def sketch_index_write(
    df: DataFrame,
    path: str,
    col: str | None = None,
    group_cols: list[str] | None = None,
    p: int = 8,
    cms_col: str | None = None,
    cms_depth: int = 3,
    cms_width: int = 256,
    bloom_col: str | None = None,
    bloom_bits: int = 131072,
    bloom_k: int = 3,
    hist_col: str | None = None,
    hist_lo: float = 0.0,
    hist_hi: float = 1.0,
    hist_bins: int = 1000,
) -> None:
    """Initialize the index over a base corpus (possibly empty): the
    per-``group_cols`` HLL register state of ``col``, plus — when the
    respective col is given — a global CMS, a Bloom filter (set-bit
    positions), and/or a fixed-bounds histogram of that column, all
    written as the ``fold=base`` snapshot.  Every stat merges
    losslessly: register MAX, counter SUM, position UNION, bin-count
    SUM — so fold==rebuild is exact for the whole pack.  The
    histogram's ``hist_lo``/``hist_hi`` bounds are pinned in the meta
    (folds only merge when bins mean the same interval); values
    outside clamp into the edge bins.

    Every stat is OPTIONAL, the HLL included (optimization r17):
    an index that only serves CMS/bloom/histogram estimates passes
    ``col=None`` and never computes, writes, or re-merges the unused
    register state — one state job per fold instead of two."""
    meta: dict = {"kind": "sketch"}
    if col is not None:
        meta["col"] = col
        meta["group_cols"] = list(group_cols or [])
        meta["p"] = int(p)
    if cms_col is not None:
        meta["cms"] = {
            "col": cms_col, "depth": int(cms_depth), "width": int(cms_width)
        }
    if bloom_col is not None:
        meta["bloom"] = {
            "col": bloom_col, "n_bits": int(bloom_bits), "k": int(bloom_k)
        }
    if hist_col is not None:
        meta["hist"] = {
            "col": hist_col, "lo": float(hist_lo), "hi": float(hist_hi),
            "bins": int(hist_bins),
        }
    if col is not None:
        _hll_state(df, meta).write.mode("overwrite").parquet(
            os.path.join(path, "hll", "fold=base")
        )
    if cms_col is not None:
        _cms_state(df, meta).write.mode("overwrite").parquet(
            os.path.join(path, "cms", "fold=base")
        )
    if bloom_col is not None:
        _bloom_state(df, meta).write.mode("overwrite").parquet(
            os.path.join(path, "bloom", "fold=base")
        )
    if hist_col is not None:
        _hist_state(df, meta).write.mode("overwrite").parquet(
            os.path.join(path, "hist", "fold=base")
        )
    _write_meta(path, meta)
    _write_state(path, {"dir": "fold=base", "epoch": None, "lineage": None})


def _epoch_committed(path: str, epoch: int, lineage: str | None) -> bool:
    """True when this (lineage, epoch) fold already committed — the
    replay-skip rule shared by :func:`sketch_index_fold` and the
    probe-then-fold gate runner (which must skip its PROBE too: after
    the fold commits, re-probing the batch would read a snapshot that
    already contains it and flag everything as seen)."""
    state = _read_state(path)
    return (
        state.get("epoch") is not None
        and state.get("lineage") == lineage
        and int(epoch) <= int(state["epoch"])
    )


def sketch_index_fold(
    increment_df: DataFrame,
    path: str,
    epoch: int,
    lineage: str | None = None,
) -> None:
    """FOLD an increment: merge its sketch state into the committed
    snapshot and write the result as this epoch's snapshot.  Lossless
    (max-merge registers, sum-merge counters), O(state + increment),
    idempotent on replay of a committed epoch (lineage-scoped skip;
    the pointer-advance-last ordering makes half-written epochs
    rewrite cleanly).  ``epoch`` is required — every sketch fold is a
    full snapshot, so there is no unlabeled append form."""
    meta = _read_meta(path, "sketch")
    if _epoch_committed(path, epoch, lineage):
        return
    state = _read_state(path)
    spark = increment_df.sparkSession
    prefix = "" if lineage is None else f"{lineage}-"
    new_dir = f"fold={prefix}e{int(epoch)}"

    if "col" in meta:
        groups = list(meta["group_cols"])
        prev_hll = spark.read.parquet(os.path.join(path, "hll", state["dir"]))
        merged_hll = (
            prev_hll.unionByName(_hll_state(increment_df, meta))
            .groupBy(*groups, "register")
            .agg(F.max("max_rank").alias("max_rank"))
        )
        merged_hll.write.mode("overwrite").parquet(
            os.path.join(path, "hll", new_dir)
        )
    if "cms" in meta:
        prev_cms = spark.read.parquet(os.path.join(path, "cms", state["dir"]))
        merged_cms = (
            prev_cms.unionByName(_cms_state(increment_df, meta))
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        merged_cms.write.mode("overwrite").parquet(
            os.path.join(path, "cms", new_dir)
        )
    if "bloom" in meta:
        prev_bloom = spark.read.parquet(
            os.path.join(path, "bloom", state["dir"])
        )
        merged_bloom = prev_bloom.unionByName(
            _bloom_state(increment_df, meta)
        ).distinct()
        merged_bloom.write.mode("overwrite").parquet(
            os.path.join(path, "bloom", new_dir)
        )
    if "hist" in meta:
        prev_hist = spark.read.parquet(
            os.path.join(path, "hist", state["dir"])
        )
        merged_hist = (
            prev_hist.unionByName(_hist_state(increment_df, meta))
            .groupBy("bin")
            .agg(F.sum("cnt").alias("cnt"))
        )
        merged_hist.write.mode("overwrite").parquet(
            os.path.join(path, "hist", new_dir)
        )
    _write_state(
        path, {"dir": new_dir, "epoch": int(epoch), "lineage": lineage}
    )


def sketch_index_hll_estimate(spark: SparkSession, path: str) -> DataFrame:
    """Per-group HLL cardinality from the committed snapshot — ONE
    tiny parquet read (O(groups x 2^p) rows) + the shared estimator,
    regardless of how much data has been folded.  Equals
    :func:`~cdp_spark.datapipe.sketches.hll_estimate_by` over the
    union of everything written + folded, exactly."""
    meta = _read_meta(path, "sketch")
    if "p" not in meta:
        raise ValueError("index was written without an HLL column")
    regs = spark.read.parquet(
        os.path.join(path, "hll", _read_state(path)["dir"])
    )
    return sk.hll_estimate_from_registers(
        regs, int(meta["p"]), group_cols=list(meta["group_cols"])
    )


def sketch_index_cms_estimates(
    spark: SparkSession, path: str, items: DataFrame, col: str | None = None
) -> DataFrame:
    """CMS point estimates for ``items`` from the committed snapshot
    (min-of-counters upper bound; the sketch side broadcasts).
    Equals estimates from a from-scratch sketch of all folded data."""
    meta = _read_meta(path, "sketch")
    c = meta["cms"]
    sketch = spark.read.parquet(
        os.path.join(path, "cms", _read_state(path)["dir"])
    )
    return sk.cms_estimates(
        sketch, items, col or c["col"],
        depth=int(c["depth"]), width=int(c["width"]),
    )


def sketch_index_hist_quantiles(
    spark: SparkSession, path: str, quantiles=(0.5, 0.95, 0.99)
) -> DataFrame:
    """Approximate quantiles from the committed histogram snapshot —
    the same one-pass-over-≤bins-rows estimator as
    :func:`~cdp_spark.datapipe.sketches.histogram_quantiles` (first
    bin whose cumulative count reaches ceil(q·N), linear
    interpolation inside it, half-up rounding at 4 digits), but with
    the bounds READ FROM THE META instead of the data, so the answer
    over base ∪ all folds is exact fold==rebuild (bin-count sums are
    lossless).  Error bound: one bin width (hi−lo)/bins."""
    from pyspark.sql import Window as W

    from .sketches import _round_half_up

    meta = _read_meta(path, "sketch")
    h = meta["hist"]
    lo, hi, bins = float(h["lo"]), float(h["hi"]), int(h["bins"])
    width = (hi - lo) / bins
    hist = spark.read.parquet(
        os.path.join(path, "hist", _read_state(path)["dir"])
    )
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    full = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "bin", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(full).alias("n"),
    )
    target = F.ceil(F.col("q") * F.col("n"))
    return (
        cum.select(
            "bin", "cnt", "cum", "n",
            F.explode(
                F.array(*[F.lit(float(q)) for q in quantiles])
            ).alias("q"),
        )
        .where(
            (F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target)
        )
        .select(
            "q",
            _round_half_up(
                F.lit(lo)
                + F.lit(width)
                * (
                    F.col("bin").cast("double")
                    + (
                        (target - (F.col("cum") - F.col("cnt"))).cast("double")
                        / F.col("cnt")
                    )
                ),
                4,
            ).alias("estimate"),
        )
    )


def sketch_index_bloom_contains(
    spark: SparkSession, path: str, items: DataFrame, col: str | None = None
) -> DataFrame:
    """Bloom membership verdicts for ``items`` from the committed
    snapshot (``(col, might_contain)`` — no false negatives; the
    positions side broadcasts, ≤ n_bits rows).  Position union is
    idempotent, so the folded filter equals one built from scratch
    over all folded data — bit-identically."""
    meta = _read_meta(path, "sketch")
    b = meta["bloom"]
    positions = spark.read.parquet(
        os.path.join(path, "bloom", _read_state(path)["dir"])
    )
    return sk.bloom_contains(
        positions, items, col or b["col"],
        n_bits=int(b["n_bits"]), k=int(b["k"]),
    )
