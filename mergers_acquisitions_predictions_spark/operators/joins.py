"""Join operators (SURVEY §2.3, J1–J6 + the general family).

Thin, declarative wrappers: each returns a lazy DataFrame so Catalyst
still sees one plan (broadcast selection, join reordering, AQE runtime
switches all apply). The value over raw `.join` calls is the named
semantics + the scale-minded defaults (broadcast hints for dims,
dedup-before-join guidance from SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dim_lookup(fact: DataFrame, dim: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J4 dimension lookup (`predictions.scala:27-28` ticker join) with
    an explicit broadcast hint — at 100 TB the dim table must never be
    the shuffle side."""
    return fact.join(F.broadcast(dim), on, "inner")


def theta_join(
    left: DataFrame, right: DataFrame, equi: Column, residual: Column, how: str = "inner"
) -> DataFrame:
    """J5 (`predictions.scala:37`): equi-key + non-equi residual.
    Catalyst plans the equi part as a hash/sort-merge join and applies
    the residual as a post-join filter — callers must supply a real
    equi component or this degenerates to a nested-loop cross join."""
    return left.join(right, equi & residual, how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """EXISTS — keeps left rows with a match, no fan-out (the dedup the
    reference patches with `.distinct` ×3, `acq_etl_code.scala:96-100`,
    is unnecessary under semi-join semantics)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """NOT EXISTS — the declared form of the reference's hand-rolled
    broadcast stop-word filter (J6, `acq_etl_code.scala:33-41`)."""
    return left.join(right, on, "left_anti")


def fuzzy_join_multipass(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    block_passes: Sequence[tuple[Column | str, Column | str]],
    max_dist: int = 2,
    dist_col: str = "edit_dist",
) -> DataFrame:
    """Multi-pass blocking (the standard recall scheme): run
    :func:`fuzzy_join` once per ``(block_left, block_right)`` pair and
    union the results, deduplicating pairs found by several passes. A
    true match is missed only if EVERY pass's blocking key differs —
    e.g. a name-prefix pass plus a last-token pass covers corruptions
    at either end of a string.

    Scale shape: each pass is an independent hash equi-join over the
    same two scans (Spark reuses the exchange across passes when keys
    align); the dedup is ONE distinct over full rows (a pair found by
    two passes yields byte-identical rows). Cost is additive in
    passes — recall is bought linearly, never quadratically. Output is
    set-semantics over rows."""
    if not block_passes:
        raise ValueError("block_passes must name at least one blocking pass")
    out = None
    for bl, br in block_passes:
        p = fuzzy_join(
            left, right, left_col, right_col, bl, br, max_dist, dist_col
        )
        out = p if out is None else out.unionByName(p)
    return out.distinct()


#: Bucket width units for range_join_bucketed (singular form).
_BUCKET_UNITS = {"minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def _bucket_seconds(bucket: str) -> int:
    n, unit = bucket.split()
    try:
        return int(n) * _BUCKET_UNITS[unit.rstrip("s")]
    except KeyError:
        raise ValueError(
            f"unsupported bucket {bucket!r}; units: {sorted(_BUCKET_UNITS)}"
        ) from None


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    block_left: Column | str,
    block_right: Column | str,
    max_dist: int = 2,
    dist_col: str = "edit_dist",
) -> DataFrame:
    """Approximate string-match join (entity resolution): the fuzzy
    generalization of the reference's exact name-equality linkage
    (`join_acquirers.scala:26` joins deal names to the company master
    verbatim — real deal feeds carry typos/OCR noise that exact
    equality drops on the floor).

    Standard blocking-key design: rows pair ONLY within equal blocking
    keys (``block_left``/``block_right`` — expressions over each side,
    e.g. a phonetic key, a name token, a sorted-token prefix), then a
    cheap length-band prune (|len diff| > max_dist can never be within
    edit distance) runs as a join residual, and the survivors are
    verified with Levenshtein — Spark 3.5+'s thresholded form, which
    abandons a pair's DP early once ``max_dist`` is exceeded.

    Scale shape: the block key turns an O(n·m) all-pairs comparison
    into a hash equi-join; per-block cost is quadratic, so blocking
    keys must be selective (run multiple passes with different keys
    and union for recall — the standard multi-pass blocking scheme).
    Matches within ``max_dist`` whose blocking keys DIFFER are missed
    by construction; that recall trade is the documented semantics
    (and what makes the operator oracle-replayable).

    ``left_col``/``right_col`` must be distinct names; output carries
    both sides' columns plus ``dist_col`` (the exact edit distance,
    ≤ ``max_dist``)."""
    if left_col == right_col:
        raise ValueError("left_col and right_col must be distinct names")
    lb = F.col(block_left) if isinstance(block_left, str) else block_left
    rb = F.col(block_right) if isinstance(block_right, str) else block_right
    l_k = left.withColumn("__blk", lb)
    r_k = right.withColumn("__blk", rb)
    dist = F.levenshtein(F.col(left_col), F.col(right_col), max_dist)
    return (
        l_k.join(
            r_k,
            (l_k["__blk"] == r_k["__blk"])
            & (
                F.abs(F.length(F.col(left_col)) - F.length(F.col(right_col)))
                <= max_dist
            ),
        )
        .withColumn(dist_col, dist)
        # thresholded levenshtein returns -1 past the bound
        .filter((F.col(dist_col) >= 0) & (F.col(dist_col) <= max_dist))
        .drop("__blk")
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_ts: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Interval/range join without an equi key, bucketized: explode the
    interval side into coarse buckets, equi-join on the bucket, then
    apply the exact range residual. Turns O(n·m) nested-loop into a
    hash join — the only interval-join plan that survives 100 TB.
    (The reference's 0≤diff<365 labeling, `acq_etl_code.scala:92-96`,
    is the equi-key special case of this.)

    ``bucket`` is any "N minutes|hours|days|weeks" width; buckets are
    epoch-aligned floor-divisions, so the bucket column never appears
    in the output and results are identical at every granularity — the
    knob trades explode fan-out (wide intervals × fine buckets) against
    join selectivity (coarse buckets × hot keys). Pick the bucket near
    the MEDIAN interval width so each interval explodes into O(1) rows."""
    secs = _bucket_seconds(bucket)
    lb = F.floor(F.unix_timestamp(F.col(left_start)) / secs)
    le = F.floor(F.unix_timestamp(F.col(left_end)) / secs)
    l_b = left.withColumn("__bucket", F.explode(F.sequence(lb, le)))
    r_b = right.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(right_ts)) / secs)
    )
    return (
        l_b.join(r_b, "__bucket")
        .filter((F.col(right_ts) >= F.col(left_start)) & (F.col(right_ts) < F.col(left_end)))
        .drop("__bucket")
    )
