"""Deduplication operators (SURVEY.md L1 + the sink's LWW semantics).

The reference's only merge semantics is Elasticsearch's index-op
last-write-wins on ``_id`` (``BulkProcessImpl.java:124``): repeated ids
overwrite, null ids auto-generate (duplicates survive). Expressed
Spark-side as window/group dedup *before* the write so the sink itself
stays append-only and idempotent.

Scale notes: all variants are a single hash-shuffle on the key. At
100 TB the key shuffle is unavoidable (semantic requirement); skewed
keys are handled by AQE skew-join/agg splitting, and
``dedup_exact_by_hash`` pre-hashes wide payloads down to a 32-byte key
so shuffle volume is keys + row ids, not documents.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _shj(df: DataFrame) -> DataFrame:
    # the winner table must JOIN hash-shuffled: an unhinted planner
    # falls back to sort-merge at corpus scale, which would SORT the
    # wide probe rows — the one thing this operator exists to avoid
    # (the test_plans gate pins it)
    return df.hint("shuffle_hash")


def dedup_exact(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Exact duplicate removal — ``dropDuplicates`` (hash shuffle + first
    row per key, map-side partial aggregation applies)."""
    return df.dropDuplicates(list(cols) if cols else None)


def dedup_last_write_wins(
    df: DataFrame,
    key: str,
    order_by: Sequence[str] | None = None,
    *,
    keep: str = "last",
) -> DataFrame:
    """Keep exactly one row per non-null ``key``, deterministically.

    ``keep='last'`` by ``order_by`` descending reproduces ES
    last-write-wins for repeated ``_id``; ``keep='first'`` gives
    keep-oldest. An empty or missing ``order_by`` orders by every
    non-key column in column order: the greatest (or least) full
    payload wins, which is deterministic but is not arrival order — a
    batch DataFrame has no write order to recover, so pass a
    write-order column (ingest timestamp, sequence number) for true
    LWW. Ties on the full order vector break by content fingerprint
    (largest xxhash64 of the row for ``'last'``, smallest for
    ``'first'``), so the survivor set is deterministic across runs,
    partitionings, and task retries. Rows whose ``key`` is null all
    survive unchanged: ES auto-generates their ids, so they never
    overwrite each other.

    Implementation: the winner per key is ONE aggregate over a narrow
    projection, ``(key, struct)``. The struct holds, for each order
    column in turn, a null flag and then the value, and the row
    fingerprint last; the winner is its ``max`` (``'last'``) or
    ``min`` (``'first'``), and the winner's ``__fp`` field is the
    winning fingerprint. Structs compare field by field, so this is the
    lexicographic order on the order vector with the fingerprint as
    final tie-break. The flag is ``isNotNull`` under ``max`` and
    ``isNull`` under ``min``: a null value sorts below every non-null
    one under ``max`` and above every non-null one under ``min``, so
    nulls lose in both directions ("null writes never win"), and two
    nulls tie on the flag and fall through to the next column. The plan
    has the same shape for one order column or many. A struct buffer is
    not hash-aggregable, so Catalyst plans this as a SortAggregate; its
    sorts see only the narrow ``(key, struct)`` rows, never the wide
    ones.

    The winning rows are recovered by a HASH semi-join on ``(key,
    fingerprint)`` (``shuffle_hash``: the probe side must not sort), so
    wide rows cross the wire once and are never sorted before it. Identical
    duplicate rows (bit-equal content ⇒ equal fingerprint) all match
    the winning ``(key, fingerprint)``, so a final
    ``dropDuplicates([key, fingerprint])`` collapses them to the single
    row the contract requires — keyed by the SEMI-JOIN's own join keys,
    so the aggregation reuses the join's hash partitioning and adds NO
    Exchange (a full-row ``distinct()`` here re-shuffled the wide rows
    a second time: 8.5 s vs 2.9 s measured at sf0.1). Because the
    pass-through ``first()`` buffers are var-length, Catalyst plans
    this collapse as a SortAggregate — acceptable HERE and only here:
    it sorts partition-local, over rows already reduced to the winner
    set and already clustered by the join, never the corpus (the gate
    in ``tests/test_plans.py`` pins all of this: wide rows cross
    exactly ONE exchange, and no wide sort sits upstream of it).

    The input is read twice (winner selection, then recovery), so it
    must be deterministic: persist or checkpoint a changing source
    first, or the fingerprints of the two reads can disagree.
    """
    order = list(order_by or []) or [c for c in df.columns if c != key] or [key]
    last = keep == "last"
    # Spark's xxhash64 SKIPS null inputs entirely, so hashing the bare
    # columns would make rows that differ only in WHICH column is null
    # collide (e.g. (0, NULL, 0) and (0, 0, NULL)) and the winner
    # recovery below would resurrect the wrong row. Pairing every column
    # with its isNull() flag (a never-null boolean) makes the null
    # PATTERN part of the hash input stream, so such rows fingerprint
    # differently.
    fp = F.xxhash64(
        *[x for c in df.columns for x in (F.col(c).isNull(), F.col(c))]
    )
    rank = F.struct(
        *[
            x
            for i, c in enumerate(order)
            for x in (
                (F.col(c).isNotNull() if last else F.col(c).isNull()).alias(f"n{i}"),
                F.col(c).alias(f"v{i}"),
            )
        ],
        fp.alias("__fp"),
    )
    keyed = df.filter(F.col(key).isNotNull())
    # project (key, struct) BEFORE grouping: computed inside the
    # aggregate, the struct's inputs (every column, via the fingerprint)
    # would ride through the partial aggregate's sort
    winners = (
        keyed.select(key, rank.alias("__r"))
        .groupBy(key)
        .agg((F.max if last else F.min)("__r")["__fp"].alias("__fp"))
    )
    return (
        keyed.withColumn("__fp", fp)
        .join(_shj(winners), [key, "__fp"], "left_semi")
        .dropDuplicates([key, "__fp"])
        .drop("__fp")
        .unionByName(df.filter(F.col(key).isNull()))
    )


def dedup_exact_by_hash(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Content-hash exact dedup: one row per distinct ``content_col``,
    keeping the smallest ``id_col`` (deterministic winner).

    ``sha2(content, 256)`` runs map-side; the shuffle then moves only
    (hash, id) pairs for the aggregation and a semi-join recovers the
    surviving rows — at 100 TB this avoids shuffling full documents.
    """
    hashed = df.withColumn("__h", F.sha2(F.col(content_col), 256))
    winners = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return (
        hashed.join(winners, ["__h", id_col], "left_semi")
        .drop("__h")
    )


def soft_dedup_weights(
    df: DataFrame,
    content_col: str,
    *,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """SoftDeDup (He et al. 2024, "SoftDedup: an efficient data
    reweighting method for speeding up language model pre-training"):
    instead of DELETING duplicates, every document is kept and
    DOWN-WEIGHTED by its duplication count — ``weight = 1/n`` where
    ``n`` is the size of the document's exact-content group — so the
    expected contribution of each unique text to the training mix is
    one document regardless of how often it was crawled.  Deletion is
    the ``n -> keep 1`` special case; soft weighting preserves the
    (often higher-quality) duplicated text at proportionally reduced
    sampling temperature.

    Adds ``n_dups`` and ``weight_ppm`` (the 1/n weight on an exact
    1e6 integer grid — floor(1e6/n), engine-replayable; consumers
    divide once at use time).  Plan: one md5 content-key hash
    aggregate (map-side combine) + one key join back — the exact-dedup
    shuffle shape, with the payload reduced to (key, n) on the agg
    side.  No window, no global sort."""
    key = F.md5(F.col(content_col).cast("string")).alias("__ckey")
    counts = (
        df.select(key)
        .groupBy("__ckey")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    out = df.withColumn("__ckey", key).join(counts, "__ckey")
    return out.withColumn(
        "weight_ppm",
        (F.lit(int(weight_scale)) / F.col("n_dups")).cast("long"),
    ).drop("__ckey")
