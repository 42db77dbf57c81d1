"""Generic DataFrame→DataFrame operator API.

The registry's fixture operators (operators/*.py) pin every engine
capability to the driver's parquet tables and DuckDB oracles. This
module exposes the reusable kernels behind them GENERICALLY — caller-
supplied DataFrames and key/order/value columns — so the engine works
as a *library* on arbitrary tables, not only the fixture schema. A
user of the reference tool (a fixed 4-pipeline ETL binary,
reference main.rs:190-313) gets the same operations parameterized the
way `pandas.merge_asof` / `MERGE INTO` / `ANALYZE` users expect.

The as-of, per-group, upsert, SCD-2, snapshot-diff, sessionize,
histogram, stable-split, BM25, PageRank, ANN top-k, incremental-dedup
and clean-corpus kernels are the ONLY implementation of their
capability: the registered keys that pin them (join_asof,
compact_latest, scd2_apply, text_bm25, graph_pagerank, sim_topk …)
are thin adapters that load the fixture tables, call the kernel and
rename its output to the oracle's columns — so each kernel is checked
against its DuckDB oracle through its key. The other kernels (near-
dup, apply-changes) still sit beside registered ops with bodies of
their own, or wrap their helpers.
tests/test_api.py pins the kernels two ways:

- equivalence: the kernel call each adapter makes (or, for a kernel
  with a twin, re-expressing the twin through the kernel) reproduces
  the registered key's result row-for-row; and
- hypothesis laws: algebraic contracts (as-of match is the nearest
  earlier build row; SCD-2 apply(delta) ≡ rebuild(full); upsert
  idempotence; session gap bounds; diff-then-apply reconstructs the
  new snapshot) on adversarial generated inputs — duplicate
  timestamps, empty sides, single keys.

Scale notes (the same discipline as the fixture ops):
- `asof_join` is the union+window formulation — ONE shuffle on the
  `by` key, no range join, no per-row Python;
- `scd2_apply` touches O(affected keys), not O(history): semi/anti
  probes on the (broadcastable) delta key set, re-window only the
  touched slice;
- `merge_upsert`/`snapshot_diff` are single keyed joins — bucketed-
  by-key storage makes them Exchange-free;
- nothing here collects to the driver.
"""

from __future__ import annotations

import threading
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

__all__ = [
    "ann_topk",
    "asof_join",
    "bm25",
    "clean_corpus",
    "cluster_pairs",
    "dedup_incremental",
    "neardup_audio",
    "neardup_images",
    "neardup_pairs",
    "neardup_videos",
    "pagerank",
    "stable_split",
    "first_row_per_group",
    "topk_per_group",
    "merge_upsert",
    "neardup_embeddings",
    "scd2_build",
    "scd2_apply",
    "sessionize",
    "snapshot_diff",
    "histogram_equidepth",
]


def _names(cols: str | Iterable[str]) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


# ---------------------------------------------------------------------------
# as-of join (runs the join_asof / join_asof_forward / join_asof_tolerance
# keys; reference replays event-time state the same way when rebuilding
# payment timelines)
# ---------------------------------------------------------------------------

def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: str | Sequence[str],
    value_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance_us: int | None = None,
    allow_exact_matches: bool = False,
    tiebreak: str | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """pandas.merge_asof semantics, Spark-first: for every left row,
    attach the nearest right row at-or-before (``backward``) or
    at-or-after (``forward``) its ``on`` timestamp within the same
    ``by`` group.

    Formulation: union both sides with a tag column, ONE window over
    (by, on, tag) carrying the last-seen right values — a single keyed
    shuffle, linear in rows, regardless of how many left rows share one
    right match. The naive alternative (range join + per-left max) is
    quadratic in hot keys; this never is.

    - ``allow_exact_matches=False`` (default): strict inequality — a
      same-instant right row is NOT visible (the join_asof keys'
      contract: at equal ts the probe sorts FIRST).
    - ``tolerance_us``: match is nulled out when the |time gap| in
      MICROSECONDS exceeds it (``on`` must be castable to timestamp).
    - ``tiebreak``: optional column present in BOTH frames that makes
      ordering among equal-``on`` right rows deterministic (the fixture
      uses event_id). Without it, which of several equal-ts right rows
      wins is plan-dependent (documented nondeterminism, as in pandas).
    - output: every left column, plus ``{on}{suffix}`` (the matched
      right timestamp) and ``{c}{suffix}`` for each value column.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    by_cols = _names(by)
    if tiebreak is not None and tiebreak not in right.columns:
        raise ValueError(f"tiebreak column {tiebreak!r} must exist in `right`")
    if value_cols is None:
        value_cols = [
            c for c in right.columns
            if c not in by_cols and c != on and c != tiebreak
        ]
    # Output names must not collide with existing left columns: the
    # tolerance branch rebuilds the frame by suffix-matching column
    # names, and the final select would hit a duplicate name — fail
    # loudly up front instead of dropping/ambiguating a caller column.
    out_names = [f"{on}{suffix}"] + [f"{c}{suffix}" for c in value_cols]
    clash = sorted(set(out_names) & set(left.columns))
    if clash:
        raise ValueError(
            f"left columns {clash} collide with as-of output names "
            f"(suffix={suffix!r}) — rename them or pass a different suffix"
        )
    reserved = {"__tag", *(f"__v_{c}" for c in value_cols)}
    bad = sorted(reserved & set(left.columns))
    if bad:
        raise ValueError(f"left columns {bad} collide with asof_join internals")
    # tag 0 = probe (left), tag 1 = build (right). With exact matches
    # DISALLOWED the probe must sort before a same-instant build row
    # (tag asc); allowing them sorts the build first (tag desc).
    probe = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(0).alias("__tag"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}")
          for c in value_cols],
    )
    if tiebreak is not None and tiebreak not in left.columns:
        # probe rows never win a build-row tie; a NULL placeholder keeps
        # the union schema aligned (nulls sort first = harmless: the
        # probe already sorts by __tag relative to same-instant builds)
        probe = probe.withColumn(
            tiebreak, F.lit(None).cast(right.schema[tiebreak].dataType)
        )
    build = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in by_cols and c != on and c != tiebreak],
        *[F.col(c) for c in by_cols],
        F.col(on),
        *([F.col(tiebreak)] if tiebreak is not None else []),
        F.lit(1).alias("__tag"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    ).select(*probe.columns)  # align column order for unionByName

    ts = F.col(on) if direction == "backward" else F.col(on).desc()
    tag = F.col("__tag").desc() if allow_exact_matches else F.col("__tag").asc()
    order = [ts, tag]
    if tiebreak:
        order.append(
            F.col(tiebreak) if direction == "backward" else F.col(tiebreak).desc()
        )
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_build = F.col("__tag") == 1
    carried = probe.unionByName(build).select(
        "*",
        F.last(F.when(is_build, F.col(on)), ignorenulls=True).over(w)
        .alias(f"{on}{suffix}"),
        *[
            F.last(F.when(is_build, F.col(f"__v_{c}")), ignorenulls=True).over(w)
            .alias(f"{c}{suffix}")
            for c in value_cols
        ],
    )
    out = carried.filter(F.col("__tag") == 0)
    matched = F.col(f"{on}{suffix}")
    if tolerance_us is not None:
        gap = F.unix_micros(F.col(on).cast("timestamp")) - F.unix_micros(
            matched.cast("timestamp")
        )
        if direction == "forward":
            gap = -gap
        fresh = matched.isNotNull() & (gap <= F.lit(tolerance_us))
        out = out.select(
            *[c for c in out.columns if not c.endswith(suffix)],
            F.when(fresh, matched).alias(f"{on}{suffix}"),
            *[
                F.when(fresh, F.col(f"{c}{suffix}")).alias(f"{c}{suffix}")
                for c in value_cols
            ],
        )
    keep = [c for c in left.columns] + [f"{on}{suffix}"] + [
        f"{c}{suffix}" for c in value_cols
    ]
    return out.select(*keep)


# ---------------------------------------------------------------------------
# per-group selection (runs the compact_latest and topk_per_group keys;
# operators/dedup.py exact tier)
# ---------------------------------------------------------------------------

def first_row_per_group(
    df: DataFrame,
    key_cols: str | Sequence[str],
    order_cols: Sequence[Column | str],
) -> DataFrame:
    """Keep exactly the first row per key under the given ordering —
    the kernel behind latest-row compaction (order desc), exact dedup
    keep-first (order asc), and SCD-1 collapse. One keyed window, no
    second shuffle; ties beyond ``order_cols`` are broken arbitrarily
    but the row count contract (exactly one per key) always holds."""
    w = Window.partitionBy(*_names(key_cols)).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def topk_per_group(
    df: DataFrame,
    key_cols: str | Sequence[str],
    order_cols: Sequence[Column | str],
    k: int,
    *,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-k rows per key under the ordering (the topk_per_group
    key's kernel). row_number (not rank) so the k bound is exact; pass
    ``rank_col`` to keep the 1..k position in the output."""
    w = Window.partitionBy(*_names(key_cols)).orderBy(*order_cols)
    rk = rank_col or "__rk"
    out = df.withColumn(rk, F.row_number().over(w)).filter(F.col(rk) <= k)
    return out if rank_col else out.drop(rk)


# ---------------------------------------------------------------------------
# upsert / SCD-2 / diff (runs the merge_upsert, scd2_intervals, scd2_apply
# and cdc_snapshot_diff keys)
# ---------------------------------------------------------------------------

def merge_upsert(
    base: DataFrame, delta: DataFrame, key_cols: str | Sequence[str]
) -> DataFrame:
    """MERGE WHEN MATCHED THEN UPDATE, ELSE INSERT, without a table
    format: delta ∪ (base ⟕anti delta-keys). Columns must align
    (unionByName). Both legs shuffle on the same key; a small delta's
    key set broadcasts into the anti join. The keys are not
    de-duplicated first: an anti join's result does not depend on
    repeated keys on its right side."""
    keys = _names(key_cols)
    survivors = base.join(delta.select(*keys), keys, "left_anti")
    return delta.unionByName(survivors)


def scd2_build(
    df: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
    *,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """SCD-2 history from a version log: every row becomes a validity
    interval closed by the key's next version (open current → NULL).
    Preserves every input column; adds ``valid_from`` (= ts_col) and
    ``valid_to`` (= lead). One keyed window (the scd2_intervals key's
    kernel)."""
    w = Window.partitionBy(*_names(key_cols)).orderBy(ts_col, *tiebreak_cols)
    return df.select(
        "*",
        F.col(ts_col).alias(from_col),
        F.lead(ts_col).over(w).alias(to_col),
    )


def scd2_apply(
    snapshot: DataFrame,
    delta: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
    *,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Incrementally maintain a ``scd2_build`` snapshot: re-window ONLY
    the keys present in the delta, pass every untouched key through an
    anti join unchanged. Contract (hypothesis-pinned in test_api.py):
    ``scd2_apply(scd2_build(base), delta) ≡ scd2_build(base ∪ delta)``.
    Cost is O(affected keys), not O(history) — the delta key set is
    distinct-ed and broadcast for both probes (the scd2_apply key's
    kernel)."""
    keys = _names(key_cols)
    delta_keys = delta.select(*keys).distinct()
    touched = snapshot.join(F.broadcast(delta_keys), keys, "left_semi")
    untouched = snapshot.join(F.broadcast(delta_keys), keys, "left_anti")
    reopened = touched.drop(from_col, to_col)
    rebuilt = scd2_build(
        reopened.unionByName(delta.select(*reopened.columns)),
        keys, ts_col, tiebreak_cols, from_col=from_col, to_col=to_col,
    )
    return untouched.unionByName(rebuilt)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: str | Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Derive a CDC changelog (op + before/after images) from two full
    snapshots with no change-tracking metadata (the cdc_snapshot_diff
    key's kernel). One full-outer keyed join; unchanged rows are dropped
    before any downstream work. Output: key cols, ``op`` in
    insert|update|delete, ``old_<c>``/``new_<c>`` images."""
    keys = _names(key_cols)
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in keys]
    # Only the old side needs a marker: a new row is present iff its own
    # key came through the join non-NULL. An old row with a NULL key and
    # all-NULL attributes comes out all NULL, like a new-only row's
    # absent old side, so it cannot go without one.
    o = old.select(
        *keys, *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(True).alias("__old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__new_{k}") for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    joined = o.join(
        n, [F.col(k) == F.col(f"__new_{k}") for k in keys], "full_outer"
    )
    inserted = F.col("__old").isNull()
    deleted = F.col(f"__new_{keys[0]}").isNull()
    op = (
        F.when(inserted, F.lit("insert"))
        .when(deleted, F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    return joined.filter(inserted | deleted | changed).select(
        *[F.coalesce(k, f"__new_{k}").alias(k) for k in keys],
        op.alias("op"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    *,
    key_cols: str | Sequence[str],
    order_cols: str | Sequence[str],
    op_col: str = "op",
    delete_op: str = "D",
    op_out: str | None = "last_op",
) -> DataFrame:
    """Apply a keyed I/U/D changelog onto a snapshot — Delta-style
    APPLY CHANGES INTO with tombstones and op provenance
    (operators/lakehouse.py cdc_apply_changes made generic; r11
    verdict item 7).

    ``changes`` must carry ``key_cols``, ``op_col``, ``order_cols``
    (the change order — event ts, LSN, seq), and every non-key column
    of ``base`` (the after-image). Per key the LATEST change under
    ``order_cols`` wins, resolved with ONE map-side-combinable
    ``max(struct(order..., payload))`` aggregate — each key's changes
    collapse inside the map task before the shuffle (the skew-safe
    shape, not a window); ties beyond ``order_cols`` break by payload
    comparison, same contract as the registered key. Then a single
    full-outer join on the key applies everything in one pass:

    - last op == ``delete_op``  → key dropped (tombstone; a tombstone
      for a key absent from ``base`` is a no-op, not an insert),
    - any other op, key in base → after-image replaces the row,
    - any other op, key absent  → insert,
    - key untouched by changes  → passthrough (``op_out`` NULL).

    Output: key cols + base's value columns (+ ``op_out`` provenance
    unless None). Cost O(snapshot ∪ changed keys); both sides
    hash-partition on the key at any scale. Batch-slicing invariant
    for ts-ordered slices (law-tested in test_api.py):
    ``apply(apply(b, s1), s2) ≡ apply(b, s1 ∪ s2)`` whenever every
    s2 order key is ≥ every s1 order key for the keys they share."""
    keys = _names(key_cols)
    order = _names(order_cols)
    vals = [c for c in base.columns if c not in keys]
    missing = [c for c in vals if c not in changes.columns]
    if missing:
        raise ValueError(
            f"changes is missing after-image columns {missing}: apply_changes "
            "replaces whole rows — project the base schema into the changelog "
            "(or drop the columns from base) first"
        )
    if op_out is not None and op_out in base.columns:
        raise ValueError(
            f"op_out {op_out!r} collides with a base column — pass a fresh "
            "name or op_out=None"
        )
    if delete_op == "":
        # the passthrough branch encodes "untouched" as a NULL op; an
        # empty-string tombstone marker would alias it (r12 ADVICE)
        raise ValueError("delete_op must be a non-empty marker")
    # In-plan changelog validation (r12 ADVICE): a NULL-op change row
    # could win the per-key max and then masquerade as an untouched key
    # (the __op IS NULL output branch selects BASE columns — an all-NULL
    # row for a key absent from base). Malformed changelogs fail loudly
    # in the task instead; assert_true returns NULL on success, so the
    # isNull() filter keeps every legal row at zero extra jobs.
    changes = changes.filter(
        F.assert_true(
            F.col(op_col).isNotNull(),
            F.lit(
                f"apply_changes: NULL {op_col!r} in the changelog — every "
                "change row must carry an op marker (I/U/D); NULL would "
                "alias the untouched-key passthrough branch"
            ),
        ).isNull()
    )
    payload = F.struct(
        F.col(op_col).alias("__op"), *[F.col(c) for c in vals]
    ).alias("__p")
    latest = changes.groupBy(*keys).agg(
        F.max(F.struct(*[F.col(c) for c in order], payload)).alias("__ch")
    )
    flat = latest.select(
        *keys,
        F.col("__ch.__p.__op").alias("__op"),
        *[F.col(f"__ch.__p.{c}").alias(f"__new_{c}") for c in vals],
    )
    merged = base.join(flat, keys, "full_outer")
    out_cols = [
        F.when(F.col("__op").isNotNull(), F.col(f"__new_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in vals
    ]
    if op_out is not None:
        out_cols.append(F.col("__op").alias(op_out))
    return merged.filter(
        F.coalesce(F.col("__op"), F.lit("")) != delete_op
    ).select(*keys, *out_cols)


# ---------------------------------------------------------------------------
# sessionization / statistics (runs the win_session and
# agg_equidepth_histogram keys)
# ---------------------------------------------------------------------------

def sessionize(
    df: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str,
    gap_us: int,
    tiebreak_cols: Sequence[str] = (),
    *,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign 1-based session ids per key: a new session starts when the
    gap to the previous event exceeds ``gap_us`` microseconds
    (the win_session key's kernel; the batch twin of the streaming
    sessionizer). One keyed window; rows pass through unchanged plus
    the session id column."""
    w = Window.partitionBy(*_names(key_cols)).orderBy(ts_col, *tiebreak_cols)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.lag(us).over(w)
    is_new = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    return df.select(
        "*",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias(session_col),
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    method: str = "exact",
    exclude_self: bool = True,
    lsh_tables: int = 8,
    lsh_bits: int = 6,
    lsh_probes: int | None = None,
) -> DataFrame:
    """Top-k nearest neighbours by cosine for every query vector, any
    embedding width and id/vector column names (the sim_exact_small and
    sim_topk keys are adapters over it).

    - ``method="exact"``: brute force — norms folded ONCE per side
      before the broadcast cross join pays only the dot product;
      correct at any dimension, O(|corpus|·|queries|) scoring. The
      oracle path; right whenever |queries| is small.
    - ``method="lsh"``: multi-table random-hyperplane LSH — the corpus
      side is spread across cores (``catalog.spread_fanout``), one
      Arrow matmul per batch buckets both sides (plane matrix
      re-derived per executor from seeds, batch-derived dim),
      candidates meet in a bucket equi-join (never a cross join) and
      are scored there; multi-table collisions collapse with a max
      over the scalar score, so that shuffle never carries vectors.
      Recall is tuned by
      (lsh_tables, lsh_bits) plus ``lsh_probes`` query-side
      multi-probes (r12; default = similarity.SIM_TOPK_PROBES — the
      QUERY side also lands in its lowest-|margin| bit-flip buckets,
      the corpus side is untouched, so the 100 TB banding cost is
      unchanged; 0 disables); results are a recall<1 SUBSET of exact
      (the fixture pins a measured floor, similarity.py
      sim_topk_recall_floor).

    ``exclude_self`` drops id equality matches (corpus and queries
    sharing an id namespace). Output columns: ``q_id``, ``{id_col}``,
    ``cos_sim`` (rounded to 6dp), ``rk`` (1..k).
    """
    from .catalog import spread_fanout
    from .functions.arrays import dot, norm
    from .operators.similarity import (
        SIM_TOPK_PROBES,
        lsh_buckets_udf,
        lsh_pair_buckets_udf,
    )

    if method not in ("exact", "lsh"):
        raise ValueError(f"method must be exact|lsh, got {method!r}")
    qid = query_id_col or id_col
    if method == "lsh":
        corpus = spread_fanout(corpus, id_col)
    c = corpus.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__nrm")
    )
    q = queries.select(
        F.col(qid).alias("q_id"),
        F.col(vec_col).alias("__q_vec"),
        norm(F.col(vec_col)).alias("__q_nrm"),
    )
    if method == "lsh":
        c = c.select(
            "*", F.posexplode(
                lsh_buckets_udf(F.col(vec_col), lsh_tables, lsh_bits)
            ).alias("__tbl", "__bucket"),
        )
        # clamp the DEFAULT to the bit width: a caller who asked for
        # lsh_bits=1 but never set lsh_probes must not be failed by a
        # default they didn't choose (an explicit oversized value still
        # raises in lsh_pair_buckets_udf)
        probes = (
            min(SIM_TOPK_PROBES, lsh_bits) if lsh_probes is None else lsh_probes
        )
        q = q.select(
            "*", F.explode(
                lsh_pair_buckets_udf(
                    F.col("__q_vec"), lsh_tables, lsh_bits, probes
                )
            ).alias("__tb"),
        ).select(
            "q_id", "__q_vec", "__q_nrm",
            F.shiftright("__tb", lsh_bits).cast("int").alias("__tbl"),
            F.col("__tb").bitwiseAND(F.lit((1 << lsh_bits) - 1))
            .cast("int").alias("__bucket"),
        )
        cand = c.join(F.broadcast(q), ["__tbl", "__bucket"])
    else:
        cand = c.crossJoin(F.broadcast(q))
    if exclude_self:
        cand = cand.filter(F.col(id_col) != F.col("q_id"))
    scored = cand.select(
        "q_id",
        id_col,
        F.round(
            dot(F.col("__q_vec"), F.col(vec_col))
            / (F.col("__q_nrm") * F.col("__nrm")),
            6,
        ).alias("cos_sim"),
    )
    if method == "lsh":
        # ArrowEvalPython drops the spread's hash layout, so this
        # aggregate keeps its exchange; it carries scalars with a
        # map-side partial max
        scored = scored.groupBy("q_id", id_col).agg(F.max("cos_sim").alias("cos_sim"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "jaccard",
    threshold: float | None = None,
    shingle_k: int | None = None,
    max_bucket_members: int | None = None,
    max_hamming: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs over any (id, text) frame — the
    L2 dedup tiers (operators/dedup.py) with caller-named columns.

    - ``jaccard``: exact n-gram Jaccard via the shingle inverted index
      (pairs: id_a, id_b, inter, n_a, n_b, jaccard). ``threshold`` is
      the Jaccard floor (default: the module's 0.5), ``shingle_k`` the
      shingle width (default 4).
    - ``minhash``: MinHash+LSH banded candidates (id_a, id_b,
      est_jaccard) — approximate, one signature scan, never O(n²);
      ``threshold`` filters on the estimate if given.
    - ``simhash``: banded Hamming-≤3 fingerprint pairs (id_a, id_b,
      hamming); ``max_hamming`` (an int ≤ 3) tightens the Hamming cap.
      ``threshold`` is a SIMILARITY floor and is rejected for simhash —
      a caller passing threshold=0.9 used to get int(0.9)=0, i.e.
      identical fingerprints only, silently.

    All three run the bucket-local pair emission with the same skew
    guards as the registered ops (``max_bucket_members`` = max-df /
    bucket cap). Output ids carry the caller's values; id pairs are
    emitted once with id_a < id_b (by the kernels' sort order).
    """
    from .operators import dedup as _d

    if max_hamming is not None and method != "simhash":
        raise ValueError("max_hamming applies only to method='simhash'")
    docs = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    if method == "jaccard":
        kw = {}
        if threshold is not None:
            kw["threshold"] = threshold
        if shingle_k is not None:
            kw["shingle_k"] = shingle_k
        out = _d.jaccard_pairs(docs, max_bucket_members, **kw)
    elif method == "minhash":
        if shingle_k is not None:
            raise ValueError("minhash signatures pin shingle_k at the module level")
        out = _d.minhash_band_pairs(
            _d.minhash_signatures(docs), max_bucket_members
        )
        if threshold is not None:
            out = out.filter(F.col("est_jaccard") >= threshold)
    elif method == "simhash":
        if threshold is not None:
            raise ValueError(
                "simhash is thresholded by Hamming distance, not similarity — "
                "pass max_hamming=<int in 0..3> instead of threshold"
            )
        out = _d.simhash_pairs(
            _d.simhash_signatures(docs),
            max_hamming=3 if max_hamming is None else max_hamming,
            max_bucket_members=max_bucket_members,
        )
    else:
        raise ValueError(f"method must be jaccard|minhash|simhash, got {method!r}")
    return out


def neardup_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    method: str = "lsh",
    block_col: str | None = None,
    lsh_tables: int | None = None,
    lsh_bits: int | None = None,
    lsh_probes: int | None = None,
    lsh_max_bucket: int | None = None,
    max_block: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over any (id, vector)
    frame — the round-11 blocked-BLAS pair kernel
    (operators/similarity.py) with caller-named columns.

    - ``method="lsh"`` (default — the 100 TB path): pair blocking on
      random-hyperplane LSH buckets; block sizes are n/2^bits per
      table, recall OR-amplified across ``lsh_tables`` and
      ``lsh_probes`` lowest-margin bit-flip probes per table (r12:
      0.59 → 0.97 measured at the defaults). Hot buckets past
      ``lsh_max_bucket`` (default similarity.LSH_MAX_BUCKET) are
      hash-split on the id so no single task ever goes quadratic on a
      degenerate corpus. Approximate: a pair is seen only if it
      collides in ≥1 probed bucket (fixture-measured recall envelope
      on the registered twin); every EMITTED pair is exact-re-scored,
      so precision is 1 by construction.
    - ``method="block"``: exact pairing within caller-chosen blocks
      (``block_col`` — a language/shard/cluster key). Refuses blocks
      past ``max_block`` (default similarity.MAX_COS_BLOCK): block²
      work is a scale-killer at any constant factor; callers with
      oversized blocks should switch to ``method="lsh"``.

    Both run the same two-phase kernel: one chunked numpy matmul per
    block finds candidates at threshold−slack, then the exact
    codegen dot/norm/round re-score produces the final values — the
    quadratic FLOPs never leave BLAS, and the candidate set is the
    only thing that pays joins. Output: id_a, id_b (id_a < id_b),
    cos_sim (6dp)."""
    from .operators.similarity import (
        LSH_PAIR_BITS,
        LSH_PAIR_TABLES,
        MAX_COS_BLOCK,
        blocked_pair_candidates,
        lsh_cosine_pairs,
        oversized_block,
        rescore_pairs,
    )

    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"id_col {id_col!r} must be an integral type (got {id_type}): "
            "the pair kernel carries bigint ids — map string/float ids to "
            "a surrogate key first (e.g. xxhash64 or monotonically_"
            "increasing_id) or a float id would silently truncate"
        )
    emb = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    if method == "lsh":
        if block_col is not None:
            raise ValueError("block_col applies only to method='block'")
        if max_block is not None:
            raise ValueError(
                "max_block applies only to method='block' — the LSH path "
                "bounds task size with lsh_max_bucket (hot buckets are "
                "hash-split, not refused) and lsh_bits (blocks are "
                "n/2^bits per table)"
            )
        from .operators.similarity import LSH_MAX_BUCKET, LSH_PAIR_PROBES

        return lsh_cosine_pairs(
            emb,
            threshold,
            tables=LSH_PAIR_TABLES if lsh_tables is None else lsh_tables,
            bits=LSH_PAIR_BITS if lsh_bits is None else lsh_bits,
            probes=LSH_PAIR_PROBES if lsh_probes is None else lsh_probes,
            max_bucket=LSH_MAX_BUCKET if lsh_max_bucket is None else lsh_max_bucket,
        )
    if method == "block":
        if block_col is None:
            raise ValueError(
                "method='block' needs block_col (a language/shard/cluster "
                "key) — whole-corpus exact pairing is O(n²) by definition; "
                "use method='lsh' instead"
            )
        if any(p is not None for p in (lsh_tables, lsh_bits, lsh_probes, lsh_max_bucket)):
            raise ValueError("lsh_* knobs apply only to method='lsh'")
        cap = MAX_COS_BLOCK if max_block is None else max_block
        blocked = df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            F.col(block_col).alias("__blk"),
        )
        if oversized_block(blocked, ["__blk"], cap):
            raise ValueError(
                f"a {block_col!r} block exceeds max_block={cap} rows: exact "
                "blocked pairing is quadratic per block — use method='lsh'"
            )
        cand = blocked_pair_candidates(blocked, ["__blk"], threshold)
        return rescore_pairs(emb, cand, threshold)
    raise ValueError(f"method must be lsh|block, got {method!r}")


def dedup_incremental(
    batch: DataFrame,
    seen_fp: DataFrame | None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fp",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup — the daily-curation path (the
    dedup_incremental_exact key is an adapter over it).

    Returns ``(survivors, new_seen_fp)``:

    - ``survivors``: batch rows that are first-of-their-content WITHIN
      the batch (min ``id_col`` per text, deterministic) AND whose md5
      fingerprint is absent from ``seen_fp`` (the stored fingerprint
      table of everything already accepted; pass ``None`` on the first
      batch). The batch never touches historical text — the history
      side is a 16-byte-key anti-join, O(batch) per increment.
    - ``new_seen_fp``: ``seen_fp`` ∪ the survivors' fingerprints — the
      frame to persist (bucketed by ``fp_col``) for the next increment.

    Law (hypothesis-pinned): folding any partition of a corpus through
    this function accepts exactly one survivor per distinct text — the
    same set a one-shot exact dedup of the concatenated corpus keeps,
    batch boundaries notwithstanding (earlier batches win)."""
    fp = F.md5(F.col(text_col)).alias(fp_col)
    w = Window.partitionBy(text_col).orderBy(id_col)
    batch_first = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select("*", fp)
    )
    if seen_fp is not None:
        # deliberately NOT broadcast: the fingerprint history grows with
        # the corpus (billions of rows at 100 TB) — the anti-join
        # shuffles on the 16-byte key, and bucketing the persisted
        # table by fp_col makes it Exchange-free; Catalyst/AQE will
        # still broadcast a genuinely small history on its own
        survivors = batch_first.join(seen_fp.select(fp_col), fp_col, "left_anti")
    else:
        survivors = batch_first
    # No distinct over the union: the legs are provably disjoint
    # (survivors are anti-joined against seen_fp) and each is unique on
    # its own — batch_first keeps one row per text, and seen_fp is this
    # function's own output (unique by induction; a caller-supplied
    # history must be distinct on fp_col). A full-history distinct here
    # forced an O(history) shuffle every increment, breaking the
    # documented O(batch) discipline.
    new_fp = survivors.select(fp_col)
    if seen_fp is not None:
        new_fp = seen_fp.select(fp_col).unionByName(new_fp)
    return survivors.drop(fp_col), new_fp


def clean_corpus(
    df: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 50,
    max_chars: int = 10_000,
    min_tokens: int = 10,
    min_unique_ratio: float = 0.3,
    decontam_n: int = 5,
    splits: dict[str, float] | None = None,
    split_salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """The curation funnel as ONE composable call: quality gate → exact
    dedup (keep-first) → benchmark decontamination → deterministic
    split — the stage order every LLM-corpus pipeline runs, over
    caller-named columns (the pipeline_clean_corpus key is an adapter
    over it; decontam_ngram keeps its own body, as it does not dedup).

    - Gate: length in [min_chars, max_chars], ≥ min_tokens whitespace
      tokens, unique-token ratio ≥ min_unique_ratio (all pure codegen —
      one filter, no shuffle).
    - Dedup: min-``id_col`` survivor per exact ``text_col`` (the only
      corpus-sized shuffle in the funnel; at 100 TB key it on
      md5(text) — 16-byte shuffle key).
    - Decontam (only when ``benchmark`` is given — any frame with
      ``text_col``): drop survivors sharing a ``decontam_n``-gram with
      the benchmark. The benchmark n-gram set is distinct-aggregated
      and broadcast while it provably fits (bounded_broadcast counts
      first, falling back to a shuffle semi-join past the cap); the
      corpus n-gram explode is map-only, flowing straight into the
      probe without materializing.
    - Split (only when ``splits`` is given): ``stable_split`` on
      ``id_col`` — a pure function of (id, salt), so eval membership
      never moves as the corpus grows.

    Returns the surviving rows with all input columns (+ ``split_col``
    when splitting). Laws pinned in tests/test_api.py: with the gate
    off, decontam_ngram's survivors reduced to the min id per text,
    no-duplicate-text/min-id-survivor, zero shared n-grams with the
    benchmark after decontamination, and gate monotonicity."""
    from .operators.dedup import bounded_broadcast
    from .operators.text import tokens as _tokens

    toks = _tokens(F.col(text_col))
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    gated = df.filter(
        F.length(text_col).between(min_chars, max_chars)
        & (n_tokens >= min_tokens)
        & (uniq_ratio >= min_unique_ratio)
    )
    deduped = first_row_per_group(gated, text_col, [F.col(id_col)])
    out = deduped
    if benchmark is not None:
        def grams(frame: DataFrame) -> DataFrame:
            t = _tokens(F.col(text_col))
            return (
                frame.select(F.col(id_col).alias("__cid"), t.alias("__t"))
                .where(F.size("__t") >= decontam_n)
                .select(
                    "__cid",
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("__t") - (decontam_n - 1)),
                            lambda i: F.concat_ws(
                                " ",
                                *[F.element_at(F.col("__t"), i + k)
                                  for k in range(decontam_n)],
                            ),
                        )
                    ).alias("__g"),
                )
            )

        bench_grams = (
            grams(benchmark.select(F.lit(0).alias(id_col), text_col))
            .select("__g").distinct()
        )
        hit = (
            grams(deduped)
            .join(bounded_broadcast(bench_grams), "__g", "left_semi")
            .select(F.col("__cid").alias(id_col))
            .distinct()
        )
        # hit is near-dup-sized (contaminated ids) — left UNHINTED like
        # the registered decontam_ngram's: AQE broadcasts a small id
        # set on its own, and a bounded_broadcast count here would
        # execute the whole corpus-side decontam pipeline a second time
        # at plan-construction (measured double work).
        out = deduped.join(hit, id_col, "left_anti")
    if splits is not None:
        out = stable_split(
            out, id_col, splits, salt=split_salt, split_col=split_col
        )
    return out


def stable_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float],
    *,
    buckets: int = 100,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic, shuffle-free dataset splits (train/eval/test …)
    by hashing the row id into ``buckets`` and slicing the bucket range
    by the given weights, in dict order (the sample_stable_split key's
    kernel).

    The split is a pure function of (id, salt): re-running, adding, or
    removing OTHER rows never moves a row between splits — the property
    that keeps eval sets uncontaminated as a corpus grows. Weights must
    sum to 1 and each slice must be at least one bucket wide. ``salt``
    derives an independent re-split without touching the id space.
    """
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8),
            16, 10,
        ).cast("bigint") % buckets
    )
    expr = None
    edge = 0.0
    prev_hi = 0
    names = list(splits)
    for name in names[:-1]:
        edge += splits[name]
        hi = round(edge * buckets)
        # hi must strictly advance past the previous cumulative edge —
        # checking only the 0/buckets ends let a MIDDLE slice whose own
        # width rounds to zero (e.g. {train:.9, val:.004, test:.096} at
        # 100 buckets → val hi == train hi == 90) pass and be silently
        # empty.
        if hi <= prev_hi or hi >= buckets:
            raise ValueError(f"split {name!r} rounds to an empty bucket slice")
        prev_hi = hi
        cond = bucket < hi
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    label = last if expr is None else expr.otherwise(last)
    return df.select("*", label.alias(split_col))


def cluster_pairs(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 16,
) -> DataFrame:
    """Connected components over any pair/edge frame → (node, label)
    with label = the component's minimum id (dedup.propagate_min_labels
    with caller-named columns). Distributed min-label propagation with
    pointer doubling — O(log diameter) rounds, label state O(clustered
    nodes), raises on non-convergence rather than returning a silent
    split. Compose with ``neardup_pairs`` for near-dup clusters and
    ``first_row_per_group`` for survivor selection."""
    from .operators.dedup import propagate_min_labels

    return propagate_min_labels(
        pairs.select(F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b")),
        max_rounds=max_rounds,
    )


def histogram_equidepth(
    df: DataFrame,
    col: str,
    buckets: int,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Equi-depth histogram: NTILE over a total ordering, so bucket row
    counts differ by at most one and bounds are deterministic given the
    tiebreak (the agg_equidepth_histogram key's kernel). Output:
    bucket, n, lo, hi. This is the exact single-ordering NTILE; the
    100 TB path is the mergeable approx-percentile twin, as documented
    on the registered key."""
    w = Window.orderBy(col, *tiebreak_cols)
    return (
        df.select(F.col(col), F.ntile(buckets).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(col).alias("lo"),
            F.max(col).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# graph / retrieval / image kernels (run the graph_pagerank and text_bm25
# keys; operators/perceptual.py neardup_images made generic)
# ---------------------------------------------------------------------------

# pagerank flips the session-global AQE conf for its checkpoint job;
# the lock keeps two overlapping calls from interleaving save/restore
# (one would save the other's "false" and restore it).
_AQE_TOGGLE_LOCK = threading.Lock()


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    base: int = 1_000_000,
    undirected: bool = False,
) -> DataFrame:
    """Fixed-point PageRank over a caller edge list → (node, pr)
    (the graph_pagerank key's kernel; determinism contract: integer
    micro-unit ranks, ``floor(pr / deg)`` contributions, damping as an
    integer percent — bit-reproducible across engines and runs).

    ``undirected=True`` mirrors every edge first (the fixture's
    co-purchase shape). Nodes = every src after mirroring; pure sinks
    (dst-only nodes in a directed graph) receive contributions but are
    not re-ranked — project them in as self-loop-free ``(node, node)``
    edges if their rank matters. Laws pinned in test_api.py: teleport
    floor (every pr >= floor(base*(100-damping)/100)), mass bound
    (sum(pr) <= n*base — floor truncation only loses), regular-graph
    fixpoint (cycle stays at base), fixture equivalence.

    Scale shape (r17, guide §2.4/§3.3 "two operations keyed the same
    way can share one exchange"): the adjacency is hash-partitioned AND
    sorted on ``src`` ONCE, before the localCheckpoint, with AQE
    disabled just for that materialization — under AQE the checkpoint's
    LogicalRDD records UnknownPartitioning and every round re-exchanged
    and re-sorted the full edge list (measured: 10 exchanges at 3
    rounds). With the partitioning+ordering recorded, every round's
    edges⋈ranks join streams the edge side with no exchange and no
    sort, the node list re-derives exchange-free from the partitioned
    checkpoint, and the ONLY per-round shuffle left is the genuine
    src→dst contribution regroup (executed plan: 3 exchanges at 3
    rounds, adjacency shuffled exactly once at build). The build itself
    got cheaper too: deriving deg from the already-repartitioned frame
    shares its exchange, where the r16 shape paid one exchange for the
    deg groupBy plus another for the adjacency join. Local wall is
    measured neutral (fixture edge lists are small); at scale this
    removes per-round full-edge-list shuffles+sorts. The AQE toggle is
    scoped to the checkpoint job under a module lock, and a finally
    restores the session's value, or unsets the key if it was unset."""
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if undirected:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    spark = edges.sparkSession
    aqe_key = "spark.sql.adaptive.enabled"
    with _AQE_TOGGLE_LOCK:
        aqe_prev = spark.conf.get(aqe_key, None)  # None: not set in the session
        try:
            spark.conf.set(aqe_key, "false")
            ers = e.repartition("src").sortWithinPartitions("src")
            adj = ers.join(
                ers.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), "src"
            ).localCheckpoint(eager=True)
        finally:
            if aqe_prev is None:
                spark.conf.unset(aqe_key)
            else:
                spark.conf.set(aqe_key, aqe_prev)
    nodes = adj.select("src").distinct().select(F.col("src").alias("node"))
    ranks = nodes.withColumn("pr", F.lit(base).cast("bigint"))
    teleport = int(base * (100 - damping_pct) / 100)
    for _ in range(iters):
        contrib = (
            adj.join(ranks, adj.src == ranks.node)
            .select(
                F.col("dst"),
                F.floor(F.col("pr") / F.col("deg")).cast("bigint").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.floor(
                        F.coalesce(F.col("contrib"), F.lit(0))
                        * damping_pct / 100.0
                    ).cast("bigint")
                ).alias("pr"),
            )
        )
    return ranks


def bm25(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = 50,
) -> DataFrame:
    """Okapi BM25 ranked retrieval over a caller corpus → (id_col,
    score, rk) for one query-term set (the text_bm25 key's kernel;
    Robertson/Sparck-Jones scoring, ROUND(·,6) for cross-engine float
    stability). ``top_k=None`` returns every matching doc scored.

    Plan: the per-(doc,term)
    tf groupBy is the only corpus-sized shuffle (tf is checkpointed —
    it feeds dl, df, and the score join); corpus stats are a 1-row
    broadcast; query-term df is a query-sized broadcast; the final
    top-k is a TakeOrderedAndProject, never a full sort. Docs with no
    query term don't appear (their BM25 score is an empty sum). At
    100 TB the posting shuffle is bounded by query-term document
    frequency, not corpus size."""
    from hyperswitch_data_backfill_spark.operators.text import tokens

    terms = [t for t in query_terms]
    if not terms:
        raise ValueError("query_terms must be non-empty")
    if top_k is not None and top_k < 1:
        raise ValueError(f"top_k must be >= 1 or None, got {top_k}")
    from hyperswitch_data_backfill_spark.catalog import spread_fanout

    tok = (
        spread_fanout(docs, id_col)
        .select(F.col(id_col).alias("_id"),
                F.explode(tokens(F.col(text_col))).alias("token"))
    )
    tf = (
        tok.groupBy("_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dl = tf.groupBy("_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    df = (
        tf.filter(F.col("token").isin(*terms))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "_id")
        .crossJoin(F.broadcast(stats))  # 1-row corpus stats
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                        + 1.0
                    )
                    * (F.col("tf") * (k1 + 1.0))
                    / (
                        F.col("tf")
                        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("score")
        )
    )
    w = Window.orderBy(F.col("score").desc(), id_col)
    ranked = scored.withColumn("rk", F.row_number().over(w))
    if top_k is not None:
        ranked = ranked.filter(F.col("rk") <= top_k)
    return ranked


def neardup_images(
    media: DataFrame,
    *,
    id_col: str = "media_id",
    payload_col: str = "payload",
    meta_col: str | None = "meta_json",
    codec: str = "raw",
    max_hamming: int = 3,
    max_bucket_members: int | None = None,
) -> DataFrame:
    """Perceptual (dHash) image near-dup pairs over caller columns →
    (id_a, id_b, hamming) — operators/perceptual.py made generic,
    same executed valve contract as neardup_pairs/neardup_embeddings
    (uncapped: in-plan MAX_POSTING_LIST assert; capped: hot band
    buckets dropped). ``meta_col`` may be None for self-describing
    payloads (codec='png')."""
    from hyperswitch_data_backfill_spark.operators import perceptual

    frame = media.select(
        F.col(id_col).alias("media_id"),
        F.col(payload_col).alias("payload"),
        (F.col(meta_col) if meta_col is not None else F.lit(None).cast("string"))
        .alias("meta_json"),
    )
    return perceptual.neardup_images(
        frame, codec=codec, max_hamming=max_hamming,
        max_bucket_members=max_bucket_members,
    )


def neardup_audio(
    media: DataFrame,
    *,
    id_col: str = "media_id",
    payload_col: str = "payload",
    codec: str = "raw",
    max_hamming: int = 3,
    max_bucket_members: int | None = None,
) -> DataFrame:
    """Audio near-dup pairs over caller columns → (id_a, id_b, hamming)
    — the energy-envelope twin of neardup_images (same valve
    contract). Payloads are int16 PCM (``codec='raw'``) or WAV
    containers (``codec='wav'``)."""
    from hyperswitch_data_backfill_spark.operators import perceptual

    frame = media.select(
        F.col(id_col).alias("media_id"),
        F.col(payload_col).alias("payload"),
    )
    return perceptual.neardup_audio(
        frame, codec=codec, max_hamming=max_hamming,
        max_bucket_members=max_bucket_members,
    )


def neardup_videos(
    media: DataFrame,
    *,
    id_col: str = "media_id",
    payload_col: str = "payload",
    meta_col: str = "meta_json",
    sample_frames: int = 4,
    max_hamming: int = 3,
    min_frame_matches: int = 1,
    max_bucket_members: int | None = None,
) -> DataFrame:
    """Clip-level near-dup pairs over caller columns → (id_a, id_b,
    n_frame_matches): per-sampled-frame dHash + frame-level banding +
    clip aggregation (operators/perceptual.py made generic; cross-slot
    matches included, so re-cut clips are found)."""
    from hyperswitch_data_backfill_spark.operators import perceptual

    frame = media.select(
        F.col(id_col).alias("media_id"),
        F.col(payload_col).alias("payload"),
        F.col(meta_col).alias("meta_json"),
    )
    return perceptual.neardup_videos(
        frame, sample_frames=sample_frames, max_hamming=max_hamming,
        min_frame_matches=min_frame_matches,
        max_bucket_members=max_bucket_members,
    )
