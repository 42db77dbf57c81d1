"""Similarity search over embeddings — SURVEY §2.11 L3 (north-star).

Three operators over ``embeddings(vec_id, embedding array<float>, label)``:

- ``sim_exact_small`` — brute-force cosine top-k for a small query set:
  the *correctness baseline*. Broadcast the queries (small side), scan
  the corpus once; per-partition top-k via window rank. Cost is
  O(|Q|·N·d) FLOPs with zero shuffle of the corpus — fine whenever |Q|
  is small, at any corpus size.
- ``sim_topk`` — the scale path: multi-table random-hyperplane LSH.
  Corpus and queries hash to buckets; candidates are bucket-colocated
  only, so the join is bucket-equi, never cross. Approximate →
  rows-only check.
- ``neardup_cosine`` — embedding near-duplicate pairs above a cosine
  threshold with label blocking (the realistic pipeline blocks on a
  cheap key — cluster/lang/shard — before pairing).

The two top-k keys are adapters over ``api.ann_topk`` (``method="exact"``
and ``method="lsh"``), which holds their plan.

All vector math is codegen'd higher-order functions (functions/arrays.py)
— double-widened, sequential fold, rounded to 6dp at comparison points.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hyperswitch_data_backfill_spark import api
from hyperswitch_data_backfill_spark.catalog import load_table, spread_fanout
from hyperswitch_data_backfill_spark.functions.arrays import dot, norm
from hyperswitch_data_backfill_spark.registry import register

N_QUERIES = 8
TOP_K = 10
# Fixture embeddings are near-orthogonal random vectors (max pairwise
# cosine ≈0.6 corpus-wide, ≈0.45 within a label); 0.4 marks the genuine
# "unusually close" tail. Real near-dup corpora use 0.9+.
NEARDUP_COS = 0.4
LSH_BITS = 6  # bits per table → 64 buckets/table
LSH_TABLES = 8  # OR-amplification: candidate if SAME bucket in ANY table
# Query-side multi-probe depth for sim_topk (flip the k lowest-|margin|
# signature bits per table on the QUERY side only — the corpus banding
# stays 1 row/table, so the 100 TB side is untouched).
SIM_TOPK_PROBES = 2
DIM = 64


@register(
    "sim_exact_small",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.q_id, e.vec_id,
               ROUND(
                   list_sum(list_transform(list_zip(q.q_emb, e.embedding),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               6) AS cos_sim
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos_sim, rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
        FROM scored
    ) t WHERE rk <= {TOP_K}
    """,
    doc="L3a: exact cosine top-k for a small query set — broadcast queries, "
        "one corpus scan, per-query rank. The oracle for the ANN variants.",
)
def sim_exact_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return api.ann_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K, method="exact"
    )


def _hyperplanes(seed: int = 0, bits: int = LSH_BITS, dim: int = DIM) -> list[list[float]]:
    """Deterministic random hyperplanes, shipped as literals (tiny)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_signature(col, planes: list[list[float]]):
    """Random-hyperplane bit signature of an array<float> column."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in p])
        bits.append(F.when(dot(col, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    return sum(bits).cast("int")


def lsh_buckets(emb_col, tables: int = LSH_TABLES, bits: int = LSH_BITS):
    """Multi-table LSH: array of (table, bucket) structs for OR-amplification.

    A pair is a candidate iff it collides in ANY table — P[candidate] =
    1-(1-p^bits)^tables where p = 1-θ/π, the standard recall knob. One
    explode fans each vector to `tables` rows; the join key is
    (table, bucket), so candidates stay bucket-colocated.

    Expression-tree variant (pure codegen). For wide table×bit configs
    prefer ``lsh_buckets_udf`` — tables·bits literal-plane folds blow up
    the generated code, while one Arrow matmul stays flat.
    """
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_signature(emb_col, _hyperplanes(seed=1000 + t, bits=bits)).alias("bucket"),
            )
            for t in range(tables)
        ]
    )


def _all_planes(tables: int = LSH_TABLES, bits: int = LSH_BITS, dim: int = DIM):
    """(tables·bits, dim) plane matrix — same seeds as lsh_buckets."""
    return np.concatenate(
        [np.asarray(_hyperplanes(seed=1000 + t, bits=bits, dim=dim)) for t in range(tables)]
    )


def lsh_buckets_udf(emb_col, tables: int = LSH_TABLES, bits: int = LSH_BITS):
    """Arrow-vectorized twin of ``lsh_buckets``: one numpy matmul per batch
    computes every table's bucket (identical output, same seeds).

    Each batch does (batch, dim) @ (dim, tables·bits) — BLAS does in one
    call what the expression tree does in tables·bits folds. Planes are
    re-derived deterministically per executor (tiny), not shipped.
    """
    from pyspark.sql.functions import pandas_udf

    def impl(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy())  # (batch, dim)
        # dim derived from the batch itself: same seeds + same dim →
        # identical planes (bit-for-bit with the DIM-constant fixture
        # path at 64), and the kernel generalizes to any embedding
        # width (api.ann_topk) without shipping plane matrices.
        proj = mat @ _all_planes(tables, bits, dim=mat.shape[1]).T  # (batch, tables·bits)
        bitvals = (proj >= 0).astype(np.int64)
        weights = np.tile(1 << np.arange(bits), tables)
        buckets = (bitvals * weights).reshape(len(mat), tables, bits).sum(axis=2)
        return pd.Series(list(buckets.astype(np.int32)))

    key = f"lsh{tables}x{bits}"
    if key not in _UDF_CACHE:
        _UDF_CACHE[key] = pandas_udf(impl, "array<int>")
    return _UDF_CACHE[key](emb_col)


def lsh_pair_buckets_udf(emb_col, tables: int, bits: int, probes: int):
    """Multi-probe banding for PAIR generation: each vector lands in its
    base bucket per table PLUS the ``probes`` buckets reached by
    flipping its lowest-|margin| signature bits (Lv et al.'s multi-probe
    LSH, adapted to symmetric pair blocking: both sides probe, so a
    Hamming-1 pair collides whenever the disagreeing bit is in EITHER
    side's probe set — and near-dup pairs disagree precisely on the
    near-zero-margin planes the probe set targets).

    Buckets are encoded as one bigint ``(tbl << bits) | bucket`` so the
    whole (table, bucket) key explodes from a flat array<bigint> —
    probes=0 reproduces lsh_buckets_udf's buckets exactly (same seeds,
    same planes). Output length: tables · (1+probes) per vector.
    """
    from pyspark.sql.functions import pandas_udf

    def impl(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy())  # (n, dim)
        n = len(mat)
        proj = mat @ _all_planes(tables, bits, dim=mat.shape[1]).T
        bitvals = (proj >= 0).astype(np.int64).reshape(n, tables, bits)
        weights = 1 << np.arange(bits)
        base = (bitvals * weights).sum(axis=2)  # (n, tables)
        tbl_off = np.arange(tables, dtype=np.int64) << bits
        out = [base + tbl_off]
        if probes:
            # ascending |margin| per (vector, table): the planes this
            # vector barely cleared — where a true near-dup most likely
            # sits on the other side.
            order = np.argsort(
                np.abs(proj).reshape(n, tables, bits), axis=2
            )
            for p in range(probes):
                out.append((base ^ weights[order[:, :, p]]) + tbl_off)
        allb = np.concatenate(out, axis=1)
        return pd.Series(list(allb))

    if not 0 <= probes <= bits:
        # argsort indexes the bits axis — probing more planes than exist
        # would die as an opaque IndexError inside the executor UDF
        raise ValueError(
            f"probes must be in 0..bits ({bits}), got {probes}: each probe "
            "flips one distinct signature bit"
        )
    key = f"lshpair{tables}x{bits}x{probes}"
    if key not in _UDF_CACHE:
        _UDF_CACHE[key] = pandas_udf(impl, "array<bigint>")
    return _UDF_CACHE[key](emb_col)


_UDF_CACHE: dict[str, object] = {}


# ---------------------------------------------------------------------------
# Blocked cosine PAIR generation (the kernel under neardup_cosine,
# neardup_cosine_lsh and dedup_semantic_clusters' pair stage).
#
# Two-phase discipline: an Arrow-batched BLAS matmul per block finds
# CANDIDATE pairs at (threshold - slack) — all the quadratic FLOPs happen
# inside one numpy call per block — then a Spark-side re-score with the
# same codegen'd fold expressions (dot/norm/round) the oracle matches
# produces the FINAL values. BLAS summation order differs from the
# sequential fold by ~1e-14, so BLAS output is never emitted directly:
# the slack guarantees no true pair is missed, and the exact re-score
# guarantees bit-identical values/rounding. Re-score cost is
# O(near-dup pairs), not O(block²).
# ---------------------------------------------------------------------------

# Candidate slack: covers BLAS-vs-sequential-fold drift (~1e-14) AND the
# round-to-6dp boundary (a true cos of threshold-5e-7 rounds up to pass).
_COS_BLAS_SLACK = 1e-5
# Row-chunk for the per-block matmul: bounds peak memory at
# chunk × block_rows × 8B (≤ 0.5 GB at the 64k block cap).
_PAIR_CHUNK = 1024
# Largest block the exact label-blocked path accepts: block² pair FLOPs
# stay affordable (64k² × dim ≈ 275 GFLOP in BLAS) and the per-task
# matmul fits one executor. Bigger blocks must go through the LSH path.
MAX_COS_BLOCK = 65536
# LSH pair-generation config: finer buckets than the top-k path (2^8 per
# table vs 2^6) keep block sizes bounded; recall is bought back with
# OR-amplification across tables AND multi-probe (each vector also
# lands in the buckets reached by flipping its lowest-|margin| signature
# bits — near-dup pairs disagree precisely on the near-zero-margin
# planes, so single-bit probes recover most Hamming-1 misses for
# (1+probes)/tables of the row cost an equivalent table count would
# pay). Config chosen from the measured sf0.1 grid in PLANS.md.
# Measured pair recall at cos>=0.4 (the fixture's near-orthogonal HARD
# case), r12 grid at sf0.1: probes=0 0.593 (the r11 config), probes=2 at
# 16 tables 0.965 / at 24 tables 0.988; 1.000 at sf0.001/sf0.01 either
# way. 16×(1+2) = 48 banding rows/vector buys +0.37 recall over the old
# 24-table single-probe-less config's 24 rows — multi-probe dominates
# adding tables (full grid in PLANS.md).
LSH_PAIR_TABLES = 16
LSH_PAIR_BITS = 8
LSH_PAIR_PROBES = 2
# Per-bucket row budget for the LSH pair path (same single-task BLAS
# budget as MAX_COS_BLOCK): past it a bucket is hash-split on vec_id
# into ceil(n/cap) sub-blocks — see lsh_cosine_pairs.
LSH_MAX_BUCKET = 65536
# Measured LSH pair recall vs the exact label-blocked pair set (fixed
# seeds, fixed fixtures → constants at the driver SFs; sf1's embedding
# jitter is hash-seeded since r12, so its numbers are re-checkable):
# with the r12 multi-probe config (16 tables × 8 bits × 2 probes):
# 1.000 at sf0.001/sf0.01, 0.965 at sf0.1 (83/86), 0.969 at sf1
# (46.6k/48.1k). Floor sits ~32% under the worst point.
NEARDUP_LSH_RECALL_FLOOR = 0.65


def blocked_pair_candidates(df: DataFrame, block_cols: list[str], threshold: float) -> DataFrame:
    """Candidate (id_a, id_b) pairs with BLAS cosine >= threshold - slack,
    generated independently per block (groupBy ``block_cols`` →
    applyInPandas). Each block's all-pairs cosine matrix is computed in
    row chunks of ``_PAIR_CHUNK`` so memory stays chunk × block, never
    block². ``df`` needs (vec_id, embedding) plus the block columns;
    pairs are emitted once per block with id_a < id_b (vec_id order) —
    a pair colliding in several blocks (multi-table LSH) needs a
    downstream dropDuplicates."""
    cut = threshold - _COS_BLAS_SLACK

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"id_a": np.array([], dtype=np.int64), "id_b": np.array([], dtype=np.int64)}
            )
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        # Zero vectors have no direction — cosine is undefined, so they
        # can never pair (contract shared with rescore_pairs, whose
        # null cos_sim fails the >= threshold filter). Dropping them
        # HERE keeps the divide below warning-free instead of emitting
        # NaN rows that downstream silently discards (r11 ADVICE).
        live = nrm > 0.0
        if not live.all():
            ids, mat, nrm = ids[live], mat[live], nrm[live]
            n = len(ids)
            if n < 2:
                return pd.DataFrame(
                    {"id_a": np.array([], dtype=np.int64),
                     "id_b": np.array([], dtype=np.int64)}
                )
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        for lo in range(0, n, _PAIR_CHUNK):
            hi = min(lo + _PAIR_CHUNK, n)
            # rows lo..hi vs cols lo..n — the strictly-upper triangle of
            # the full matrix, visited once.
            sims = (mat[lo:hi] @ mat[lo:].T) / np.outer(nrm[lo:hi], nrm[lo:])
            ii, jj = np.nonzero(sims >= cut)
            keep = jj > ii  # global col = lo+jj, global row = lo+ii
            gi, gj = ids[lo + ii[keep]], ids[lo + jj[keep]]
            out_a.append(np.minimum(gi, gj))
            out_b.append(np.maximum(gi, gj))
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    return df.groupBy(*block_cols).applyInPandas(gen, "id_a bigint, id_b bigint")


def rescore_pairs(
    emb: DataFrame, cand: DataFrame, threshold: float, with_label: bool = False
) -> DataFrame:
    """Exact cosine for candidate pairs: two equi-joins on vec_id fetch
    the vectors, then the SAME codegen'd dot/norm fold + round(6) the
    oracle computes. At 100 TB this is the standard pair-table×vector-
    store join — shuffle-partitioned by id, never quadratic."""
    base = emb.withColumn("nrm", norm(F.col("embedding")))
    a_cols = [
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    ]
    if with_label:
        a_cols.append(F.col("label"))
    a = base.select(*a_cols)
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    out_cols = ["id_a", "id_b"] + (["label"] if with_label else [])
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            *out_cols,
            F.round(
                dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def oversized_block(df: DataFrame, block_cols: list[str], cap: int) -> bool:
    """Bounded probe (same shape as joins.py's MAX_HOT_KEYS guard): one
    aggregate job, limit(1) collect — True iff any block exceeds ``cap``
    rows. The guard that keeps a blocked pair join from silently going
    quadratic when a block is 100× what the plan was sized for."""
    hit = (
        df.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .limit(1)
        .collect()
    )
    return bool(hit)


def lsh_cosine_pairs(
    emb: DataFrame,
    threshold: float = NEARDUP_COS,
    tables: int = LSH_PAIR_TABLES,
    bits: int = LSH_PAIR_BITS,
    probes: int = LSH_PAIR_PROBES,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """LSH-bucketed cosine pair graph — the 100 TB path: vectors explode
    to (table, bucket) rows (multi-probe: base bucket + ``probes``
    lowest-margin bit flips per table), candidate pairs form only
    WITHIN a bucket (the pair join is bucket-equi, never label-blocked
    all-pairs), and the exact re-score runs on the O(near-dups)
    candidate set. Bucket count (2^bits per table) scales block sizes
    as n/2^bits; recall is bought with OR-amplification across
    ``tables`` × multi-probe.

    Hot-bucket valve (r11 verdict item 1 — the one pair emitter that
    lacked one): the per-bucket applyInPandas materializes a whole
    bucket as one pandas frame and pays block² BLAS, so a degenerate
    corpus (a million near-identical vectors share one bucket in EVERY
    table) must not reach it unbounded. Every bucket's size comes from
    a ``count(*) OVER (PARTITION BY tb)`` window on the pairing
    shuffle's own partitioning (the census paragraph below), then:

    - ``max_bucket=<int>`` (default LSH_MAX_BUCKET): buckets past the
      cap are hash-SPLIT on vec_id into ceil(n/cap) sub-blocks and
      pairing stays within a sub-block. Correctness-neutral for a
      candidate generator — every emitted pair is still exact-re-scored
      (precision 1 by construction) and recall is already < 1 and
      floor-monitored (neardup_cosine_recall_floor); a hot bucket is
      precisely where LSH discriminates least, so cross-split loss
      lands on the least informative collisions. The op survives the
      degenerate corpus instead of OOMing a task.
    - ``max_bucket=None``: refuse instead — an in-plan
      ``assert_true(bucket_size <= LSH_MAX_BUCKET)`` over the window
      count raises before the quadratic stage runs, for callers
      doing strict recall accounting who would rather re-tune bits
      than silently lose cross-split pairs.

    The census rides the pairing shuffle (r17, guide §2.4 "two
    operations keyed the same way can share one exchange"): the
    per-bucket applyInPandas needs the banded frame hash-clustered on
    ``tb`` anyway, and a ``count(*) OVER (PARTITION BY tb)`` window on
    that same partitioning yields every bucket's size with no extra
    shuffle and — the point — no second evaluation of the banding UDF.
    Through r16 the census was a separate groupBy + broadcast join
    whose subtree re-derived the banded frame: the banding pandas UDF
    ran twice (two ArrowEvalPython nodes, two corpus scans, every
    embedding crossing the Arrow boundary twice). Trade-off, accepted
    and documented: hash(tb) clustering keeps ALL hash-splits of one
    over-cap bucket in a single task (the old (tb, split) shuffle key
    spread them across ceil(n/cap) tasks), so a degenerate corpus
    serializes its hot bucket's sub-blocks; the valve semantics are
    unchanged (refuse mode still raises before any pairing, split mode
    still bounds every BLAS block at ``cap``), and WindowExec buffers
    a hot bucket spillably, not in one pandas frame.
    """
    if max_bucket is not None and max_bucket < 1:
        # a zero cap reaches F.ceil(_bn / 0) — an opaque mid-job ANSI
        # DIVIDE_BY_ZERO; a negative cap makes ceil() negative and pmod
        # scatter every bucket into near-singleton splits (silently
        # empty output). Same construction-time discipline as the
        # probes guard in lsh_pair_buckets_udf.
        raise ValueError(
            f"max_bucket must be >= 1 (got {max_bucket}); pass None for "
            "refuse-instead-of-split mode"
        )
    banded = emb.select(
        "vec_id",
        "embedding",
        F.explode(
            lsh_pair_buckets_udf(F.col("embedding"), tables, bits, probes)
        ).alias("tb"),
    )
    banded = banded.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("tb"))
    )
    cap = LSH_MAX_BUCKET if max_bucket is None else max_bucket
    if max_bucket is None:
        banded = banded.filter(
            F.assert_true(
                F.col("_bn") <= F.lit(cap),
                F.lit(
                    f"lsh_cosine_pairs: a bucket exceeds {cap} rows — "
                    "bucket-local pairing would OOM one task. Pass "
                    "max_bucket=<cap> to hash-split hot buckets "
                    "(recall-floored), or raise bits to shrink buckets."
                ),
            ).isNull()
        )
        block_cols = ["tb"]
    else:
        banded = banded.withColumn(
            "split",
            F.pmod(F.xxhash64("vec_id"), F.ceil(F.col("_bn") / cap)),
        )
        block_cols = ["tb", "split"]
    cand = blocked_pair_candidates(
        banded.drop("_bn"), block_cols, threshold
    ).dropDuplicates(["id_a", "id_b"])
    return rescore_pairs(emb, cand, threshold)


@register(
    "sim_topk",
    oracle=None,  # approximate (LSH recall < 1) → rows-only
    doc="L3b: ANN top-k via multi-table random-hyperplane LSH (8 tables × "
        "6 bits, OR-amplified) — explode to (table,bucket), bucket-equi "
        "join, exact re-rank of candidates, per-query top-k. The 100 TB "
        "path: candidates are bucket-colocated (repartition by bucket), "
        "never a cross join; recall tuned by (tables, bits) plus "
        "query-side multi-probe (r12: the broadcast-sized query side "
        "also probes its lowest-margin bit flips; corpus banding "
        "untouched — recall@10 0.287 → 0.762 at sf0.01). Envelope "
        "gap: sim_topk_recall_floor's in-plan floor is corpus-size-"
        "tiered (r13: 0.42/0.52/0.64, each ~30% under the weakest "
        "seeded measurement at that size) — it catches wiring breaks "
        "and large-corpus collapse, while fine decay (0.600 → 0.55 at "
        "sf0.001) is the pytest floor's job (0.57, "
        "test_quality_guards.py).",
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return api.ann_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K,
        method="lsh", lsh_tables=LSH_TABLES, lsh_bits=LSH_BITS,
    )


IVF_K = 16  # centroids (cells)

# (applicationId, plan hash, k, seed) -> normalized codebook ndarray.
_CODEBOOK_CACHE: dict[tuple, np.ndarray] = {}
IVF_NPROBE = 3  # cells probed per query


def _centroids(k: int = IVF_K, dim: int = DIM) -> np.ndarray:
    """Deterministic unit-norm centroids.

    Fixed seeded Gaussians stand in for a trained codebook: at 100 TB
    the centroids come from k-means over a driver-side sample (spark.ml
    KMeans on ~1M sampled rows), then broadcast — the assignment and
    probe stages below are unchanged either way.
    """
    rng = np.random.default_rng(7)
    c = rng.standard_normal((k, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_cells_udf(emb_col, nprobe: int = 1):
    """Arrow-vectorized cell assignment: the ``nprobe`` nearest centroids
    (by dot product) per vector, one BLAS matmul per batch."""
    from pyspark.sql.functions import pandas_udf

    def impl(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy())
        sims = mat @ _centroids().T
        order = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    key = f"ivf{nprobe}"
    if key not in _UDF_CACHE:
        _UDF_CACHE[key] = pandas_udf(impl, "array<int>")
    return _UDF_CACHE[key](emb_col)


@register(
    "sim_ivf",
    oracle=None,  # approximate (nprobe < k ⇒ recall < 1) → rows-only
    doc="L3d: ANN top-k via IVF — corpus partitioned into 16 centroid "
        "cells (1 cell/vector), queries probe their 3 nearest cells, "
        "exact cosine re-rank within probed cells. The 100 TB path: "
        "repartition corpus BY CELL at ingest so a probe touches nprobe/k "
        "of the data and the candidate join is cell-colocated; recall "
        "tuned by nprobe. Complements sim_topk's LSH (hash buckets) with "
        "the codebook-partition strategy real vector stores use. "
        "Envelope gap: sim_ivf_recall_floor's in-plan floor (0.25) "
        "catches a broken cell assignment, NOT gradual decay — measured "
        "0.325 vs pytest floor 0.30 (test_quality_guards.py): a drift "
        "to 0.28 stays driver-green but fails pytest.",
)
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus side spreads across cores; the query side (N_QUERIES rows
    # behind a pushed-down vec_id filter) skips the repartition — an
    # exchange stage spent spreading 8 rows is pure overhead (r16).
    raw = load_table(spark, sf_dir, "embeddings")
    emb = spread_fanout(raw, "vec_id")
    corpus = emb.withColumn("nrm", norm(F.col("embedding"))).select(
        "vec_id", "embedding", "nrm",
        F.explode(ivf_cells_udf(F.col("embedding"), 1)).alias("cell"),
    )
    base = raw.withColumn("nrm", norm(F.col("embedding")))
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode(ivf_cells_udf(F.col("embedding"), IVF_NPROBE)).alias("cell"),
    )
    cand = (
        corpus.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            F.round(
                dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return cand.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


# ONE definition of the thresholded cosine pair graph serves both the
# pair operator (neardup_cosine) and the cluster operator
# (dedup_semantic_clusters), so the edge definition cannot drift between
# the two oracles — same discipline as dedup.py's _PAIR_PREFIX.
# MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, so a
# recursive consumer (the clusters oracle) would otherwise re-evaluate
# the quadratic pair join EVERY iteration — measured 403s → 21s at sf1.
_COS_PAIR_SQL = f"""
    WITH RECURSIVE cpairs AS MATERIALIZED (
        SELECT id_a, id_b, label, cos_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
                   ROUND(
                       list_sum(list_transform(list_zip(a.embedding, b.embedding),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                   6) AS cos_sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
        ) t WHERE cos_sim >= {NEARDUP_COS}
    )
"""


@register(
    "neardup_cosine",
    oracle=_COS_PAIR_SQL + """
    SELECT id_a, id_b, label, cos_sim FROM cpairs
    """,
    doc="L3c: embedding-cosine near-dup pairs with label blocking — "
        "exact semantics (the oracle's blocked pair join), executed as "
        "per-block BLAS candidate generation + exact codegen re-score "
        "(r10 verdict item 1: the per-pair fold expression made the "
        "quadratic block pairing 40× slower than one matmul per block). "
        f"A bounded probe raises if any label block exceeds "
        f"{MAX_COS_BLOCK} rows — past that, block² work is a "
        "scale-killer at any constant factor and the caller must use "
        "neardup_cosine_lsh (bucket-blocked, recall-floored) instead.",
)
def neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    if oversized_block(emb, ["label"], MAX_COS_BLOCK):
        raise ValueError(
            f"a label block exceeds MAX_COS_BLOCK={MAX_COS_BLOCK} rows: "
            "exact blocked pairing is quadratic per block — use "
            "neardup_cosine_lsh (LSH-bucketed, recall-floored) at this scale"
        )
    cand = blocked_pair_candidates(emb, ["label"], NEARDUP_COS)
    return rescore_pairs(emb, cand, NEARDUP_COS, with_label=True)


@register(
    "neardup_cosine_lsh",
    oracle=None,  # approximate (LSH pair recall < 1) → rows-only
    doc="L3c-scale: embedding-cosine near-dup pairs blocked on "
        f"random-hyperplane LSH buckets ({LSH_PAIR_TABLES} tables × "
        f"{LSH_PAIR_BITS} bits, OR-amplified, {LSH_PAIR_PROBES} "
        "lowest-margin multi-probes per table) instead of a data column "
        "— the 100 TB path the label-blocked exact key cannot take: "
        "block size is n/2^bits per table (tunable), hot buckets "
        "hash-split at LSH_MAX_BUCKET (r12: the last unguarded pair "
        "emitter got its valve); the quadratic stage is per-bucket BLAS "
        "on bounded blocks; the exact re-score pays O(candidates). "
        "Approximate (a pair is seen only if it collides in ≥1 probed "
        "bucket) → rows-only, flanked by the driver-hashed "
        "neardup_cosine_recall_floor twin. Envelope gap: the floor "
        f"({NEARDUP_LSH_RECALL_FLOOR}) catches wiring/banding breaks, "
        "not gradual decay — measured 1.0/0.965/0.969 at sf0.01/0.1/1.",
)
def neardup_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_fanout(load_table(spark, sf_dir, "embeddings"), "vec_id")
    return lsh_cosine_pairs(emb)


@register(
    "neardup_cosine_recall_floor",
    oracle=_COS_PAIR_SQL + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok
    FROM cpairs
    """,
    doc="L3c-err: driver-hashed recall envelope for neardup_cosine_lsh — "
        "the share of the EXACT label-blocked pair set (neardup_cosine's "
        f"plan, whose count the oracle re-derives) found by the LSH path "
        f"must clear {NEARDUP_LSH_RECALL_FLOOR}. Precision needs no twin: "
        "every emitted pair is exact-re-scored against the same threshold, "
        "so false positives are impossible by construction. A broken "
        "banding (fewer effective tables, a dead signature bit) drops "
        "recall below the floor → flag flips → hash red.",
)
def neardup_cosine_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = neardup_cosine(spark, sf_dir).select("id_a", "id_b")
    lsh = neardup_cosine_lsh(spark, sf_dir).select("id_a", "id_b").withColumn(
        "_hit", F.lit(1)
    )
    j = exact.join(lsh, ["id_a", "id_b"], "left")
    return j.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_hit").alias("_hits")
    ).select(
        F.col("_n").cast("bigint").alias("n_exact_pairs"),
        # vacuously satisfied on an empty exact set — 0/0 would be NULL
        # and flip the driver hash red for no reason
        F.when(F.col("_n") == 0, F.lit(True))
        .otherwise(
            F.coalesce(F.col("_hits"), F.lit(0)).cast("double") / F.col("_n")
            >= NEARDUP_LSH_RECALL_FLOOR
        )
        .alias("recall_ok"),
    )


@register(
    "dedup_semantic_clusters",
    oracle=_COS_PAIR_SQL + """
    , edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM cpairs
        UNION ALL
        SELECT id_b, id_a FROM cpairs
    ), lp(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, MIN(l.label) FROM lp l JOIN edges e ON l.node = e.src
        GROUP BY e.dst
    )
    SELECT node AS vec_id, MIN(label) AS cluster_id FROM lp GROUP BY node
    """,
    doc="L2/L3 bridge: SEMANTIC dedup clusters — connected components "
        "over the embedding-cosine near-dup pair graph (the fuzzy-dedup "
        "stage of an embedding-first curation pipeline, where paraphrase "
        "duplicates share no shingles but sit at cosine >= threshold). "
        "Pairs come from the blocked cosine kernel — exact label blocking "
        "while every block clears the MAX_COS_BLOCK probe (fixtures and "
        "sf1 do, keeping this key oracle-exact), switching to the "
        "LSH-bucketed path (lsh_cosine_pairs, recall-floored) the moment "
        "a block outgrows the quadratic budget; clustering "
        "reuses dedup.py's scale-adaptive machinery — driver union-find "
        "when the thresholded pair list is driver-sized (it is the "
        "near-dup EDGE set, not the corpus), else distributed min-label "
        "propagation with pointer doubling. Same min-label fixpoint "
        "either way; the oracle runs the SAME min-label propagation as "
        "a recursive CTE over the identical pair SQL (r12: replaced the "
        "reach transitive closure — O(nodes·diameter) recursion state "
        "instead of O(reachable pairs), and MATERIALIZED pair/edge CTEs "
        "so DuckDB's default CTE inlining stops re-evaluating the "
        "quadratic pair join every iteration: 403s → 21s at sf1).",
)
def dedup_semantic_clusters(
    spark: SparkSession, sf_dir: str, max_block: int = MAX_COS_BLOCK
) -> DataFrame:
    from hyperswitch_data_backfill_spark.operators.dedup import (
        _EDGE_DRIVER_LIMIT,
        driver_union_find,
        propagate_min_labels,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    if oversized_block(emb, ["label"], max_block):
        # Scale path: bucket-blocked candidates, exact re-score. Recall
        # < 1 (envelope: neardup_cosine_recall_floor) — acceptable for
        # dedup, where a missed edge means a kept near-duplicate, and
        # the alternative is a block² join that cannot finish.
        pairs = lsh_cosine_pairs(emb).select("id_a", "id_b")
    else:
        # neardup_cosine's exact pipeline, inlined so the block probe
        # (already green above) is not re-run.
        cand = blocked_pair_candidates(emb, ["label"], NEARDUP_COS)
        pairs = rescore_pairs(emb, cand, NEARDUP_COS).select("id_a", "id_b")
    head = [(r.id_a, r.id_b) for r in pairs.limit(_EDGE_DRIVER_LIMIT + 1).collect()]
    if len(head) <= _EDGE_DRIVER_LIMIT:
        return spark.createDataFrame(
            driver_union_find(head), "vec_id bigint, cluster_id bigint"
        )
    return propagate_min_labels(pairs).toDF("vec_id", "cluster_id")


@register(
    "emb_centroid_per_label",
    oracle="""
    WITH ex AS (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    )
    SELECT label, pos,
           CAST(SUM(CAST(ROUND(v * 1e9) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1e9) AS centroid_val
    FROM ex GROUP BY label, pos
    """,
    doc="L3e: per-label centroid (the IVF training step / class prototype): "
        "posexplode the vectors and average component-wise. Emitted as "
        "(label, pos, value) rows, not arrays — the relational form "
        "downstream joins want. Engine-exact via integer-scaled sums "
        "(float sums are order-dependent; bigint sums are not; the "
        "float->decimal casts the engines disagree on are avoided). At "
        "100 TB: partial aggregation makes this one map-side-combined "
        "shuffle of (labels x dims) cells — no vector ever crosses the "
        "wire whole.",
)
def emb_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("v").cast("double") * 1e9).cast("bigint")).alias("s"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "label",
            "pos",
            (F.col("s").cast("double") / (F.col("cnt") * 1e9)).alias("centroid_val"),
        )
    )


def ivf_train_kmeans(emb: DataFrame, k: int = IVF_K, seed: int = 7) -> np.ndarray:
    """Train a real IVF codebook with spark.ml KMeans (seeded → deterministic).

    The 100 TB recipe the ``_centroids`` docstring promises: fit on a
    sample (here: the full fixture table; on a real corpus
    ``emb.sample(fraction)`` capped around 1M rows), L2-normalize the
    centers so max-dot assignment approximates cosine cells, broadcast
    the tiny (k × dim) codebook into the executors via UDF closure.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Seeded KMeans is deterministic for a fixed input, so the trained
    # codebook is memoized per (application, input) — training is several
    # blocking spark.ml jobs, and composed callers (recall tests, repeat
    # sweeps) must not retrain per call. The codebook is k × dim floats —
    # trivially driver-sized.
    key = (emb.sparkSession.sparkContext.applicationId,
           emb.semanticHash(), k, seed)
    cached = _CODEBOOK_CACHE.get(key)
    if cached is not None:
        return cached
    feats = emb.select(array_to_vector(F.col("embedding")).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=5).fit(feats)
    c = np.stack([np.asarray(ctr) for ctr in model.clusterCenters()])
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    _CODEBOOK_CACHE[key] = c
    return c


def cells_for_codebook(centroids: np.ndarray, nprobe: int):
    """Arrow-vectorized nprobe-nearest-cell assignment for a given codebook."""
    from pyspark.sql.functions import pandas_udf

    def impl(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy())
        sims = mat @ centroids.T
        order = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    return pandas_udf(impl, "array<int>")


@register(
    "sim_ivf_trained",
    oracle=None,  # approximate (trained cells, nprobe < k) → rows-only
    doc="L3f: ANN top-k via IVF with a TRAINED codebook — spark.ml KMeans "
        "(seeded) instead of sim_ivf's fixed Gaussian stand-ins; identical "
        "assign → probe → exact-re-rank dataflow. Trained cells track the "
        "data distribution, so probes touch balanced cells (a fixed "
        "codebook leaves hot cells on clustered data — the skew surface). "
        "Recall floor vs the exact oracle is pytest-guarded. Envelope "
        "gap: sim_ivf_trained_recall_floor's in-plan floor (0.35) proves "
        "the training leg is wired in (seeded centroids measure 0.363 "
        "vs trained 0.487) but tolerates parallelism-induced codebook "
        "shifts; the tighter 0.5 floor and the exact-cosine re-rank "
        "equality check are pinned to the fixed test config in pytest "
        "(test_quality_guards.py — trained-IVF recall is parallelism-"
        "sensitive, so an absolute tight floor would flake).",
)
def sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_fanout(load_table(spark, sf_dir, "embeddings"), "vec_id")
    cents = ivf_train_kmeans(emb)
    assign1 = cells_for_codebook(cents, 1)
    assignp = cells_for_codebook(cents, IVF_NPROBE)
    base = emb.withColumn("nrm", norm(F.col("embedding")))
    corpus = base.select(
        "vec_id", "embedding", "nrm",
        F.explode(assign1(F.col("embedding"))).alias("cell"),
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode(assignp(F.col("embedding"))).alias("cell"),
    )
    cand = (
        corpus.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            F.round(
                dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return cand.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


PQ_M = 8  # subspaces (64-dim → 8 subvectors of 8 dims)
PQ_K = 16  # centroids per subspace → 4-bit codes, 8 codes per vector


def _pq_codebook(m: int = PQ_M, k: int = PQ_K, dim: int = DIM) -> np.ndarray:
    """(m, k, dim//m) deterministic per-subspace codebook.

    Seeded Gaussians stand in for trained sub-codebooks, exactly like
    `_centroids` for IVF: at 100 TB each subspace's codebook comes from
    seeded k-means over a sampled slice, broadcast to executors; the
    assignment stage below is unchanged either way.
    """
    rng = np.random.default_rng(11)
    return rng.standard_normal((m, k, dim // m)) * 0.1


def pq_encode_udf(emb_col):
    """Arrow-vectorized product-quantization encode: per batch, reshape
    (batch, dim) → (batch, m, dim/m), compute squared distances to each
    subspace's k centroids with one einsum, argmin → uint4 codes, and
    report the exact reconstruction MSE of the chosen codes."""
    from pyspark.sql.functions import pandas_udf

    def impl(emb: pd.Series) -> pd.DataFrame:
        mat = np.stack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        n = mat.shape[0]
        sub = mat.reshape(n, PQ_M, -1)  # (n, m, d/m)
        cb = _pq_codebook()  # (m, k, d/m)
        # squared dist: |x|^2 - 2 x·c + |c|^2 per subspace
        x2 = (sub**2).sum(axis=2, keepdims=True)  # (n, m, 1)
        xc = np.einsum("nmd,mkd->nmk", sub, cb)  # (n, m, k)
        c2 = (cb**2).sum(axis=2)[None, :, :]  # (1, m, k)
        d2 = x2 - 2 * xc + c2
        codes = d2.argmin(axis=2)  # (n, m)
        recon = cb[np.arange(PQ_M), codes]  # advanced index → (n, m, d/m)
        err = ((sub - recon) ** 2).mean(axis=(1, 2))
        return pd.DataFrame(
            {"codes": list(codes.astype(np.int32)), "recon_mse": err}
        )

    if "pq" not in _UDF_CACHE:
        _UDF_CACHE["pq"] = pandas_udf(impl, "struct<codes: array<int>, recon_mse: double>")
    return _UDF_CACHE["pq"](emb_col)


@register(
    "emb_pq_quantize",
    oracle=None,  # float argmin against a float codebook → rows-only
    doc="L8b: product quantization — split each 64-dim vector into 8 "
        "subvectors, quantize each against its own 16-entry codebook, "
        "store 8 four-bit codes (4 bytes) instead of 256 float bytes: "
        "64x compression, the standard memory layout for billion-scale "
        "ANN (Jégou et al. 2011, IVF-PQ). One Arrow-batched einsum per "
        "batch does every subspace's distance table at once; codebooks "
        "are re-derived deterministically per executor (tiny), never "
        "shipped. Asymmetric-distance search and the int8 / "
        "random-projection compressors (functions/arrays.py) are the "
        "sibling operators. Quality guards in pytest: codes in range, "
        "encode idempotent, and PQ reconstruction MSE strictly beats "
        "the best single global centroid (rank-0 quantizer). Driver "
        "contract: the 8 four-bit codes pack exactly into one BIGINT "
        "(acc*16+c fold) so the result is hashable by the rows-only "
        "canonicalizer; `emb_pq_quantize_arrays` keeps the array form "
        "for API users. Envelope gap: emb_pq_quantize_err's per-vector "
        "bound (MSE ≤ 0.1, ~2x the worst measured point 0.0515) catches "
        "a codebook/argmin break, NOT a within-bound reconstruction-"
        "quality regression; encode idempotence and strictly-beats-the-"
        "rank-0-quantizer live only in pytest (test_quality_guards.py).",
)
def emb_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = emb_pq_quantize_arrays(spark, sf_dir)
    return enc.select(
        "vec_id",
        "label",
        # PQ_M codes in [0, PQ_K) fold losslessly into one bigint (radix =
        # PQ_K so the pack and the code range cannot drift apart); keeps
        # the driver canonicalizer (pandas sort over all columns) away
        # from unhashable array cells.
        F.expr(f"aggregate(codes, 0L, (acc, c) -> acc * {PQ_K} + c)").alias("codes_packed"),
        "recon_mse",
    )


def emb_pq_quantize_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API variant of ``emb_pq_quantize`` returning `codes array<int>`
    (the layout downstream ADC search consumes); not driver-registered
    because array cells crash the rows-only canonicalizer."""
    emb = spread_fanout(load_table(spark, sf_dir, "embeddings"), "vec_id")
    enc = emb.select("vec_id", "label", pq_encode_udf(F.col("embedding")).alias("pq"))
    return enc.select(
        "vec_id",
        "label",
        F.col("pq.codes").alias("codes"),
        F.round(F.col("pq.recon_mse"), 6).alias("recon_mse"),
    )


IVFPQ_SHORTLIST = 32  # ADC candidates per query kept for exact re-rank


def pq_dtab_udf(emb_col):
    """Arrow-vectorized per-query PQ distance table: for each query
    vector, the squared distance from each of its PQ_M subvectors to
    each of that subspace's PQ_K codebook entries, flattened to a
    length-(PQ_M*PQ_K) array. Tiny (queries only) — the per-pair ADC
    sum downstream is pure codegen over this broadcast array."""
    from pyspark.sql.functions import pandas_udf

    def impl(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        n = mat.shape[0]
        sub = mat.reshape(n, PQ_M, -1)
        cb = _pq_codebook()
        x2 = (sub**2).sum(axis=2, keepdims=True)
        xc = np.einsum("nmd,mkd->nmk", sub, cb)
        c2 = (cb**2).sum(axis=2)[None, :, :]
        d2 = x2 - 2 * xc + c2  # (n, m, k)
        return pd.Series(list(d2.reshape(n, PQ_M * PQ_K)))

    if "pq_dtab" not in _UDF_CACHE:
        _UDF_CACHE["pq_dtab"] = pandas_udf(impl, "array<double>")
    return _UDF_CACHE["pq_dtab"](emb_col)


@register(
    "sim_ivfpq",
    oracle=None,  # approximate (IVF probe + PQ-compressed ranking) → rows-only
    doc="L3e: IVF-PQ ANN — the Jégou et al. 2011 composition every "
        "billion-scale vector store runs: IVF cells bound WHICH vectors "
        "a query touches (nprobe/k of the corpus), PQ codes bound the "
        "BYTES each touched vector costs (4 bytes, not 256), asymmetric "
        "distance (query-side table vs 4-bit codes) ranks candidates, "
        "and only a constant shortlist pays full-precision re-rank. "
        "Plan: queries (few) carry their 128-double distance table "
        "broadcast into the cell-equi join; the per-pair ADC sum is "
        "pure codegen (`aggregate` over the code array indexing the "
        "broadcast table — no Python in the pair loop); two keyed "
        "windows (ADC shortlist, exact top-k) both partition by query. "
        "At 100 TB the corpus side stores ONLY (cell, codes) — the "
        "full vectors live in a separate store touched for "
        "shortlist-sized lookups, here modeled by re-ranking from the "
        "same frame. Recall floor + shortlist-bound pytest-guarded. "
        "Envelope gap: sim_ivfpq_recall_floor's in-plan floor (0.15) "
        "catches wiring breaks, NOT gradual recall decay — measured "
        "0.275 vs pytest floor 0.25 (test_quality_guards.py): a PQ-"
        "table regression costing 0.1 recall stays driver-green but "
        "fails pytest.",
)
def sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_fanout(load_table(spark, sf_dir, "embeddings"), "vec_id")
    base = emb.withColumn("nrm", norm(F.col("embedding")))
    corpus = base.select(
        "vec_id", "embedding", "nrm",
        F.explode(ivf_cells_udf(F.col("embedding"), 1)).alias("cell"),
        pq_encode_udf(F.col("embedding"))["codes"].alias("codes"),
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        pq_dtab_udf(F.col("embedding")).alias("dtab"),
        F.explode(ivf_cells_udf(F.col("embedding"), IVF_NPROBE)).alias("cell"),
    )
    cand = (
        corpus.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", "q_emb", "q_nrm", "embedding", "nrm",
            F.expr(
                # arr[i] is 0-based getItem in Spark SQL; codes[m] is the
                # m-th subspace code, dtab is the flattened (m, k) table
                f"aggregate(sequence(0, {PQ_M - 1}), 0.0D, "
                f"(acc, m) -> acc + dtab[m * {PQ_K} + codes[m]])"
            ).alias("adc"),
        )
    )
    w_adc = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("vec_id"))
    shortlist = (
        cand.withColumn("srk", F.row_number().over(w_adc))
        .filter(F.col("srk") <= IVFPQ_SHORTLIST)
        .select(
            "q_id", "vec_id",
            F.round(
                dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return shortlist.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


# Round-7 error envelope: avg recall@10 of the LSH path vs the exact
# top-k, asserted in-plan so the driver hashes it. Measured on the
# near-orthogonal fixture vectors (the HARD case for hyperplane LSH),
# with the r12 query-side multi-probe (SIM_TOPK_PROBES=2): 0.600 at
# sf0.001 (n=500), 0.762 at sf0.01 (n=500), 0.738 at sf0.1 (n=2000),
# 0.912 at sf1 (n=20000) — seeded fixtures, all four re-checkable.
# r13 (r12 verdict item 7): one 0.40 floor was ~33% under the WORST
# point but 2.3x under the sf1 measurement — a large-corpus recall
# collapse to 0.5 stayed green. The floor now TIERS on corpus size
# (counted in the same plan, a 1-row broadcast stats join), each tier
# ~30% under the weakest measurement at that size; boundaries sit at
# geometric gaps between the fixture sizes. Deterministic: planes are
# seeded, signatures/buckets are pure functions of the corpus.
LSH_RECALL_FLOOR_TIERS: tuple[tuple[int | None, float], ...] = (
    (1000, 0.42),   # n<=1000: weakest measured 0.600 (sf0.001)
    (8000, 0.52),   # n<=8000: measured 0.738 (sf0.1)
    (None, 0.64),   # larger:  measured 0.912 (sf1)
)


@register(
    "sim_topk_recall_floor",
    oracle=f"""
    SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    doc="L3b-err: driver-hashed recall envelope for sim_topk — average "
        f"recall@{TOP_K} across the {N_QUERIES} fixture queries, "
        "measured against the exact top-k (sim_exact_small's plan), "
        "must clear a corpus-size-TIERED floor (0.42/0.52/0.64 — each "
        "~30% under the weakest seeded measurement at that size; r12 "
        "verdict item 7 closed the one-flat-floor gap where large-"
        "corpus decay hid under the small-corpus margin). The exact "
        "referee is affordable in-plan because the query set is fixed "
        "and small; the pytest floors cover the per-config variants "
        "(tables/bits sweeps, clustered-corpus easy case). A silently "
        "degraded banding (fewer effective tables, broken signature) "
        "drops the average below the floor → flag flips → hash red.",
)
def sim_topk_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_floor_frame(
        spark, sf_dir, sim_topk, LSH_RECALL_FLOOR_TIERS
    )


def _recall_floor_frame(spark, sf_dir, ann_fn, floor) -> DataFrame:
    """Shared recall-envelope plan: avg recall@TOP_K of ``ann_fn`` vs
    the exact referee, emitted as a driver-hashable flag. The referee
    runs in the SAME plan (one job), and the intersection is a
    broadcast-sized semi-join on (q_id, vec_id).

    ``floor``: a flat float, or size tiers ``((max_n | None, floor),
    ...)`` resolved against the corpus row count IN the plan (one
    map-side-combinable count, 1-row broadcast stats join) — so one
    registered key stays honest across every driver sf."""
    exact = sim_exact_small(spark, sf_dir).select("q_id", "vec_id")
    ann = ann_fn(spark, sf_dir).select("q_id", "vec_id")
    hits = exact.join(ann, ["q_id", "vec_id"], "left_semi")
    agg = hits.agg(F.count(F.lit(1)).alias("_n_hits"))
    if isinstance(floor, (int, float)):
        floor_col = F.lit(float(floor))
    else:
        n_corpus = load_table(spark, sf_dir, "embeddings").agg(
            F.count(F.lit(1)).alias("_n_corpus")
        )
        agg = agg.join(F.broadcast(n_corpus))  # 1-row stats cross join
        floor_col = None
        for max_n, f in reversed(floor):
            lit = F.lit(float(f))
            if max_n is None:
                floor_col = lit
            else:
                floor_col = F.when(F.col("_n_corpus") <= max_n, lit).otherwise(
                    floor_col
                )
    return agg.select(
        F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
        (
            F.col("_n_hits").cast("double") / (N_QUERIES * TOP_K) >= floor_col
        ).alias("recall_ok"),
    )


# IVF probes 3/16 cells: measured recall 0.363 (sf0.01) / 0.375
# (sf0.1) / holds at sf1; IVF-PQ adds 4-bit-code ADC shortlisting:
# measured 0.263 / 0.212. Floors sit >=25% under every measured point.
IVF_AVG_RECALL_FLOOR = 0.25
IVFPQ_AVG_RECALL_FLOOR = 0.15


@register(
    "sim_ivf_recall_floor",
    oracle=f"""
    SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    doc="L3d-err: driver-hashed recall envelope for sim_ivf (nprobe=3 of "
        f"{IVF_K} cells) — avg recall@{TOP_K} vs the exact referee must "
        f"clear {IVF_AVG_RECALL_FLOOR}. A broken cell assignment or "
        "probe-set regression flips the flag.",
)
def sim_ivf_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_floor_frame(spark, sf_dir, sim_ivf, IVF_AVG_RECALL_FLOOR)


@register(
    "sim_ivfpq_recall_floor",
    oracle=f"""
    SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    doc="L3e-err: driver-hashed recall envelope for the full IVF-PQ path "
        "(cell probe -> ADC shortlist over 4-bit codes -> exact re-rank) "
        f"— avg recall@{TOP_K} must clear {IVFPQ_AVG_RECALL_FLOOR}. "
        "Catches codebook/distance-table regressions end to end.",
)
def sim_ivfpq_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_floor_frame(spark, sf_dir, sim_ivfpq, IVFPQ_AVG_RECALL_FLOOR)


# Trained IVF (driver-sample k-means codebook): measured recall 0.487
# (sf0.01) / 0.512 (sf0.1) — the trained codebook beats the seeded one
# by ~0.13 recall; floor sits ~30% under the worst measured point.
IVF_TRAINED_AVG_RECALL_FLOOR = 0.35


@register(
    "sim_ivf_trained_recall_floor",
    oracle=f"""
    SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    doc="L3d2-err: driver-hashed recall envelope for sim_ivf_trained "
        f"(k-means codebook) — avg recall@{TOP_K} must clear "
        f"{IVF_TRAINED_AVG_RECALL_FLOOR}, a floor the untrained seeded "
        "codebook cannot reach (measured 0.363 vs 0.487): this flag "
        "also proves the TRAINING leg is actually wired in, not "
        "silently falling back to seeded centroids.",
)
def sim_ivf_trained_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_floor_frame(
        spark, sf_dir, sim_ivf_trained, IVF_TRAINED_AVG_RECALL_FLOOR
    )


# PQ reconstruction error: measured max per-vector MSE 0.0153 (sf0.01) /
# 0.0147 (sf0.1) / 0.0515 (generated sf1, whose jittered vectors are the
# worst case) against the seeded codebook; bound ~2x the worst point.
PQ_RECON_MSE_BOUND = 0.1


@register(
    "emb_pq_quantize_err",
    oracle="SELECT vec_id, TRUE AS codes_in_range, TRUE AS within_bound FROM embeddings",
    doc="L8b-err: per-vector error envelope for emb_pq_quantize — every "
        f"code in [0, {PQ_K}) and reconstruction MSE <= 0.1 "
        "for every vector, driver-hashed per "
        "vec_id. Deterministic (seeded codebook), so the flags are "
        "stable at any sf; a codebook or argmin regression flips rows.",
)
def emb_pq_quantize_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = emb_pq_quantize_arrays(spark, sf_dir)
    return enc.select(
        "vec_id",
        F.forall("codes", lambda c: (c >= 0) & (c < PQ_K)).alias("codes_in_range"),
        (F.col("recon_mse") <= PQ_RECON_MSE_BOUND).alias("within_bound"),
    )
