"""Scale rehearsal: measure candidate-generation balance as the corpus grows.

Turns the "bucketed, never all-pairs" design claim for L2 (near-dup
dedup) and L3 (ANN similarity) into a measured curve: inflate the
documents/embeddings fixtures Nx (token-salted replicas — each replica's
shingles are distinct, so this models a BIGGER corpus, not a
pathological duplicate explosion) and record, at each scale:

- posting-list / band-bucket size distribution (the per-task pair-emit
  bound), and
- the per-partition row histogram at the bucket shuffle (the reducer
  balance AQE actually schedules), plus
- candidate-pair volume and wall time.

If the max-partition share stays flat while N grows, the shuffle is
balanced and the design scales; a rising share would flag a skew
bottleneck long before 100 TB. Results are appended to BENCH_NOTES.md.

Usage: python tools/scale_rehearsal.py [sf_dir] [factors...]
"""

from __future__ import annotations

import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from hyperswitch_data_backfill_spark.catalog import load_table  # noqa: E402
from hyperswitch_data_backfill_spark.operators import dedup  # noqa: E402
from hyperswitch_data_backfill_spark.operators.similarity import (  # noqa: E402
    IVF_K,
    ivf_cells_udf,
)
from hyperswitch_data_backfill_spark.session import get_spark  # noqa: E402


def inflate_docs(docs: DataFrame, n: int) -> DataFrame:
    """n token-salted replicas: every token carries the replica id, so
    replicas share no shingles — a corpus n× BIGGER, not n× duplicated."""
    if n == 1:
        return docs
    r = docs.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    )
    salted = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda t: F.concat(t, F.lit("_"), F.col("rep").cast("string")),
        ),
        " ",
    )
    return r.select(
        (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
        salted.alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def part_hist(df: DataFrame) -> tuple[int, int, float]:
    """(n_partitions, max_rows, max_share) of the frame as scheduled."""
    rows = (
        df.withColumn("pid", F.spark_partition_id()).groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in rows] or [0]
    total = sum(counts) or 1
    return len(counts), max(counts), max(counts) / total


def bucket_stats(df: DataFrame, size_col) -> tuple[int, int, float]:
    """(n_buckets, max_members, p99_members) of a bucketed frame."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(size_col).alias("mx"),
        F.expr(f"percentile({size_col._jc.toString()}, 0.99)").alias("p99"),
    ).collect()[0]
    return row["n"], row["mx"], float(row["p99"] or 0)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factors = [int(x) for x in sys.argv[2:]] or [1, 4, 16]
    spark = get_spark(app_name="scale-rehearsal")
    base = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    print("| N | docs | shingle buckets (max/p99 df) | jaccard bucket-shuffle "
          "max-part share | band buckets (max members) | band-shuffle "
          "max-part share | cand pairs | pair wall s | max IVF cell share |")
    print("|---|---|---|---|---|---|---|---|---|")
    for n in factors:
        docs = inflate_docs(base, n).cache()
        n_docs = docs.count()

        sh = dedup.shingles_df(docs)
        postings = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        n_b, mx_df, p99_df = bucket_stats(postings, F.col("df"))
        _, _, share_j = part_hist(postings)

        sig = dedup.minhash_signatures(docs)
        bands = F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.xxhash64(
                        F.slice("sig", bi * dedup.LSH_ROWS + 1, dedup.LSH_ROWS)
                    ).alias("bh"),
                )
                for bi in range(dedup.LSH_BANDS)
            ]
        )
        banded = sig.select("doc_id", F.explode(bands).alias("b")).select(
            "doc_id", "b.band", "b.bh"
        )
        bbuckets = banded.groupBy("band", "bh").agg(
            F.count(F.lit(1)).alias("members")
        )
        multi = bbuckets.filter(F.col("members") > 1)
        _, mx_m, _ = bucket_stats(
            multi.unionByName(
                spark.createDataFrame([(0, 0, 1)], "band int, bh long, members long")
            ),
            F.col("members"),
        )
        _, _, share_b = part_hist(bbuckets)

        t0 = time.perf_counter()
        # pair volume through the production operator path (bucket-local
        # emit) on the inflated corpus via a temp view swap-in
        sh2 = sh.withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
        buckets = (
            sh2.groupBy("shingle")
            .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("m"))
            .filter(F.size("m") > 1)
        )
        pair_count = buckets.select(
            F.sum(
                (F.size("m") * (F.size("m") - F.lit(1)) / F.lit(2)).cast("bigint")
            ).alias("p")
        ).collect()[0]["p"] or 0
        wall = time.perf_counter() - t0

        cells = emb.select(
            F.explode(ivf_cells_udf(F.col("embedding"), 1)).alias("cell")
        ).groupBy("cell").count()
        crow = cells.agg(
            F.max("count").alias("mx"), F.sum("count").alias("t")
        ).collect()[0]
        cell_share = crow["mx"] / crow["t"]

        print(
            f"| {n} | {n_docs} | {n_b} ({mx_df}/{p99_df:.0f}) | {share_j:.3f} "
            f"| {mx_m} | {share_b:.3f} | {pair_count} | {wall:.1f} "
            f"| {cell_share:.3f} (k={IVF_K}) |"
        )
        docs.unpersist()
    spark.stop()




def events_mode() -> None:
    """Second rehearsal axis: keyed-window operators as the EVENT LOG
    grows Nx (user-replicated — more users, same per-user history, the
    way a payments fleet actually grows). Records wall time, the
    window-shuffle partition balance, and the whale bound (max rows per
    user) for the carry-forward/window analytics family. Flat max-part
    share + flat per-user bound + ~linear wall = the claimed shape."""
    from hyperswitch_data_backfill_spark.operators.analytics import (
        last_touch_attribution,
        sessioned_funnel,
        time_weighted_avg,
    )

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    factors = [int(x) for x in sys.argv[3:]] or [1, 4, 16]
    spark = get_spark(app_name="scale-rehearsal-events")
    base = load_table(spark, sf_dir, "events")

    def inflate(ev: DataFrame, n: int) -> DataFrame:
        if n == 1:
            return ev
        r = ev.select("*", F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep"))
        return r.select(
            (F.col("event_id") + F.col("rep").cast("bigint") * F.lit(10**9)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep").cast("bigint") * F.lit(10**7)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )

    print("| N | events | users | max rows/user | twa wall s (max-part share) "
          "| attr wall s | sessioned-funnel wall s |")
    print("|---|---|---|---|---|---|---|")
    for n in factors:
        ev = inflate(base, n).localCheckpoint(eager=True)
        n_ev = ev.count()
        n_users = ev.select("user_id").distinct().count()
        whale = (
            ev.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
        )

        t0 = time.perf_counter()
        twa = time_weighted_avg(ev)
        twa.write.format("noop").mode("overwrite").save()
        twa_wall = time.perf_counter() - t0
        _, _, share = part_hist(twa)

        t0 = time.perf_counter()
        last_touch_attribution(ev).write.format("noop").mode("overwrite").save()
        attr_wall = time.perf_counter() - t0

        t0 = time.perf_counter()
        sessioned_funnel(ev).write.format("noop").mode("overwrite").save()
        funnel_wall = time.perf_counter() - t0

        print(
            f"| {n} | {n_ev} | {n_users} | {whale} "
            f"| {twa_wall:.1f} ({share:.3f}) | {attr_wall:.1f} "
            f"| {funnel_wall:.1f} |"
        )
    spark.stop()


_JITTER_UDF = None


def _jitter_udf():
    """Shared (embeddings/pairs axes) jittered-replica UDF: rep 0 keeps
    the original vector; others add seeded sigma=0.3 Gaussian noise (one
    generator per batch - rehearsal metric, not a fixture). Lazily built
    so module import needs no active session."""
    global _JITTER_UDF
    if _JITTER_UDF is None:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<float>")
        def jitter(emb, vec_id, rep):
            import numpy as np
            import pandas as pd

            mat = np.stack(emb.to_numpy()).astype(np.float64)
            reps = rep.to_numpy()
            seed = int(vec_id.iloc[0]) * 131071 + int(reps[0]) + 17
            noise = np.random.default_rng(seed).standard_normal(mat.shape) * 0.3
            noise[reps == 0] = 0.0
            return pd.Series(list((mat + noise).astype(np.float32)))

        _JITTER_UDF = jitter
    return _JITTER_UDF


def inflate_embeddings(emb: DataFrame, n: int) -> DataFrame:
    """n jittered replicas with shifted vec_ids - new points near the
    data manifold, the way an embedding corpus actually grows."""
    if n == 1:
        return emb
    jitter = _jitter_udf()
    r = emb.select("*", F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep"))
    return r.select(
        (F.col("vec_id") + F.col("rep").cast("bigint") * F.lit(10**7)).alias("vec_id"),
        jitter(F.col("embedding"), F.col("vec_id"), F.col("rep")).alias("embedding"),
        "label",
    )


def embeddings_mode() -> None:
    """Third rehearsal axis (r4 verdict item 4): the ANN family as the
    EMBEDDING corpus grows Nx. Replicas are jittered copies (σ=0.3
    Gaussian noise — new points near the data manifold, the way a corpus
    actually grows), queries stay the N_QUERIES originals. Records per
    scale: LSH bucket occupancy (max/p99 members + bucket-shuffle
    max-part share), IVF max-cell share, candidate rows per query for
    both, and recall of each vs a brute-force exact top-k computed on
    the SAME inflated corpus. Flat bucket/cell shares + recall holding
    its floor = the "bucketed, never all-pairs" claim measured."""
    from hyperswitch_data_backfill_spark.functions.arrays import dot, norm
    from hyperswitch_data_backfill_spark.operators.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        ivf_cells_udf,
        lsh_buckets_udf,
    )

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    factors = [int(x) for x in sys.argv[3:]] or [1, 4, 16, 64]
    spark = get_spark(app_name="scale-rehearsal-embeddings")
    base = load_table(spark, sf_dir, "embeddings")
    inflate = inflate_embeddings

    print("| N | vecs | lsh buckets (max/p99) | max lsh bucket share "
          "| lsh cand/q | lsh recall | max IVF cell share | ivf cand/q "
          "| ivf recall | exact wall s |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for n in factors:
        emb = inflate(base, n).localCheckpoint(eager=True)
        n_vecs = emb.count()
        basev = emb.withColumn("nrm", norm(F.col("embedding")))
        q = basev.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        ).localCheckpoint(eager=True)

        # exact top-k on the inflated corpus (the recall denominator)
        t0 = time.perf_counter()
        scored = (
            basev.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select(
                "q_id", "vec_id",
                F.round(
                    dot(F.col("q_emb"), F.col("embedding"))
                    / (F.col("q_nrm") * F.col("nrm")), 6
                ).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        exact = {
            (r["q_id"], r["vec_id"])
            for r in scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K).collect()
        }
        exact_wall = time.perf_counter() - t0

        # LSH: bucket occupancy, shuffle balance, candidates, recall
        banded = basev.select(
            "vec_id", "embedding", "nrm",
            F.posexplode(lsh_buckets_udf(F.col("embedding"))).alias("tbl", "bucket"),
        )
        occ = banded.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("members"))
        n_b, mx_m, p99_m = bucket_stats(occ, F.col("members"))
        # the pair-emit bound: the biggest single bucket as a share of
        # the corpus (per table). Flat share while N grows 64× = the
        # bucket join's largest task scales WITH the data, not faster.
        # (part_hist on the 512-row occupancy agg is meaningless — AQE
        # coalesces it to one partition.)
        share_l = mx_m / n_vecs
        qb = banded.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"), "tbl", "bucket",
        )
        lsh_cand = (
            banded.join(F.broadcast(qb), ["tbl", "bucket"])
            .filter(F.col("vec_id") != F.col("q_id"))
            .dropDuplicates(["q_id", "vec_id"])
        )
        n_lsh_cand = lsh_cand.count()
        lsh_top = lsh_cand.select(
            "q_id", "vec_id",
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm")), 6
            ).alias("cos_sim"),
        ).withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)
        got_l = {(r["q_id"], r["vec_id"]) for r in lsh_top.collect()}
        recall_l = len(exact & got_l) / max(1, len(exact))

        # IVF: cell share, candidates, recall
        cells = basev.select(
            "vec_id", "embedding", "nrm",
            F.explode(ivf_cells_udf(F.col("embedding"), 1)).alias("cell"),
        )
        crow = cells.groupBy("cell").count().agg(
            F.max("count").alias("mx"), F.sum("count").alias("t")
        ).collect()[0]
        cell_share = crow["mx"] / crow["t"]
        qc = basev.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.explode(ivf_cells_udf(F.col("embedding"), IVF_NPROBE)).alias("cell"),
        )
        ivf_cand = (
            cells.join(F.broadcast(qc), "cell")
            .filter(F.col("vec_id") != F.col("q_id"))
        )
        n_ivf_cand = ivf_cand.count()
        ivf_top = ivf_cand.select(
            "q_id", "vec_id",
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm")), 6
            ).alias("cos_sim"),
        ).withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)
        got_i = {(r["q_id"], r["vec_id"]) for r in ivf_top.collect()}
        recall_i = len(exact & got_i) / max(1, len(exact))

        print(
            f"| {n} | {n_vecs} | {n_b} ({mx_m}/{p99_m:.0f}) | {share_l:.3f} "
            f"| {n_lsh_cand / N_QUERIES:.0f} | {recall_l:.2f} "
            f"| {cell_share:.3f} | {n_ivf_cand / N_QUERIES:.0f} "
            f"| {recall_i:.2f} | {exact_wall:.1f} |"
        )
    spark.stop()


def pairs_mode() -> None:
    """Fourth rehearsal axis (r12): the LSH cosine PAIR path as the
    embedding corpus grows Nx — the multi-probe banding
    (tables·(1+probes) rows/vector) and the hot-bucket valve measured,
    not asserted. Records per scale: banding rows, bucket occupancy
    (max/p99 members + max share), pairs emitted, wall; then the SAME
    corpus through an artificially tiny max_bucket to show the
    hash-split valve activating (bounded blocks, completed run,
    measured pair retention vs unsplit). Flat max-bucket share while N
    grows = the per-task BLAS block scales with n/2^bits, not with a
    hot key."""
    from hyperswitch_data_backfill_spark.operators.similarity import (
        LSH_PAIR_BITS,
        LSH_PAIR_PROBES,
        LSH_PAIR_TABLES,
        lsh_cosine_pairs,
        lsh_pair_buckets_udf,
    )

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    factors = [int(x) for x in sys.argv[3:]] or [1, 4, 16]
    spark = get_spark(app_name="scale-rehearsal-pairs")
    base = load_table(spark, sf_dir, "embeddings")
    inflate = inflate_embeddings  # shared jittered-replica inflation

    print("| N | vecs | banding rows | buckets (max/p99 members) "
          "| max bucket share | pairs | wall s "
          "| split@cap=64: blocks>cap before | pairs kept | wall s |")
    print("|---|---|---|---|---|---|---|---|---|")
    for n in factors:
        emb = inflate(base, n).localCheckpoint(eager=True)
        n_vecs = emb.count()
        banded = emb.select(
            "vec_id",
            F.explode(
                lsh_pair_buckets_udf(
                    F.col("embedding"), LSH_PAIR_TABLES, LSH_PAIR_BITS,
                    LSH_PAIR_PROBES,
                )
            ).alias("tb"),
        )
        occ = banded.groupBy("tb").agg(F.count(F.lit(1)).alias("members"))
        n_b, mx_m, p99_m = bucket_stats(occ, F.col("members"))
        band_rows = n_vecs * LSH_PAIR_TABLES * (1 + LSH_PAIR_PROBES)
        t0 = time.perf_counter()
        n_pairs = lsh_cosine_pairs(emb).count()
        w_full = time.perf_counter() - t0
        # valve activation: tiny cap → every bucket past 64 members is
        # hash-split; the run must complete and keep most pairs (the
        # loss is cross-split only, inside over-full buckets)
        over = occ.filter(F.col("members") > 64).count()
        t0 = time.perf_counter()
        n_split = lsh_cosine_pairs(emb, max_bucket=64).count()
        w_split = time.perf_counter() - t0
        print(
            f"| {n} | {n_vecs} | {band_rows} | {n_b} ({mx_m}/{p99_m:.0f}) "
            f"| {mx_m / n_vecs:.3f} | {n_pairs} | {w_full:.1f} "
            f"| {over} | {n_split}/{n_pairs} | {w_split:.1f} |"
        )
    spark.stop()


def perceptual_mode() -> None:
    """Fifth rehearsal axis (r13): the perceptual fingerprint family as
    the MEDIA corpus grows Nx. Replicas ride inflate_docs' token
    salting — and unlike shingle space (where salting separates
    replicas), per-token suffixes are SMALL byte perturbations of the
    same pixels/samples, so the inflated corpus carries growing
    NEAR-DUP FAMILIES: the adversarial case for Hamming banding, where
    candidate volume grows quadratically in family size. What the
    table proves is the design's headroom under that stress: band
    buckets stay far below the MAX_POSTING_LIST valve (measured 400 max
    members at 80k media vs the 4096 cap), and the full image+audio
    pair wall grows sub-linearly in candidates. Records per scale:
    16-bit band-bucket occupancy (max/p99 members), the band-shuffle
    max-partition share (reads 1.0 at these sizes — AQE coalesces the
    tiny bucket shuffle to one partition; the occupancy columns are
    the real skew signal), candidate-pair volume, ehash max bucket,
    and the pair wall."""
    from hyperswitch_data_backfill_spark.operators.multimodal import doc_media
    from hyperswitch_data_backfill_spark.operators.perceptual import (
        audio_ehash,
        image_dhash,
        neardup_audio,
        neardup_images,
    )

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    factors = [int(x) for x in sys.argv[3:]] or [1, 4, 16]
    spark = get_spark(app_name="scale-rehearsal-perceptual")
    base = load_table(spark, sf_dir, "documents")

    print("| N | media | dhash band buckets (max/p99 members) | band-shuffle "
          "max-part share | cand pairs | ehash max bucket | image+audio "
          "pair wall s |")
    print("|---|---|---|---|---|---|---|")
    for n in factors:
        docs = inflate_docs(base, n).localCheckpoint(eager=True)
        docs.createOrReplaceTempView("documents_inflated")
        n_docs = docs.count()
        # doc_media reads the documents table; rebuild its frame inline
        media = docs.select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.encode(F.expr(
                "substring(text, 1, 8 * (octet_length(text) div 8))"
            ), "UTF-8").alias("payload"),
            F.to_json(F.struct(
                F.lit(8).alias("width"),
                F.expr("octet_length(text) div 8").cast("int").alias("height"),
            )).alias("meta_json"),
        ).localCheckpoint(eager=True)

        fps = image_dhash(media)
        bands = F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("dhash"), b * 16)
                .bitwiseAND(F.lit(65535)).alias("bits"),
            ) for b in range(4)
        ])
        banded = fps.filter(F.col("dhash").isNotNull()).select(
            "media_id", F.explode(bands).alias("b")
        ).select("media_id", "b.band", "b.bits")
        buckets = banded.groupBy("band", "bits").agg(
            F.count(F.lit(1)).alias("members"))
        _, mx_m, p99_m = bucket_stats(buckets, F.col("members"))
        _, _, share = part_hist(buckets)
        cand = buckets.filter(F.col("members") > 1).select(
            F.sum((F.col("members") * (F.col("members") - 1) / 2)
                  .cast("bigint")).alias("p")
        ).collect()[0]["p"] or 0

        eb = audio_ehash(media).filter(F.col("ehash").isNotNull()).select(
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         F.shiftright(F.col("ehash"), b * 16)
                         .bitwiseAND(F.lit(65535)).alias("bits"))
                for b in range(4)
            ])).alias("b")
        ).groupBy("b.band", "b.bits").agg(F.count(F.lit(1)).alias("m"))
        mx_e = eb.agg(F.max("m")).collect()[0][0]

        t0 = time.perf_counter()
        n_pairs = (neardup_images(media).count()
                   + neardup_audio(media).count())
        wall = time.perf_counter() - t0
        print(f"| {n} | {n_docs} | {mx_m}/{p99_m:.0f} | {share:.3f} "
              f"| {cand} | {mx_e} | {wall:.1f} (pairs={n_pairs}) |")
        docs.unpersist()
    spark.stop()


def wire_mode() -> None:
    """Sixth rehearsal axis (r13 continuation): raw wire-stack
    throughput as record volume grows — no Spark, just the from-spec
    codecs + real loopback sockets, so the numbers isolate what the
    produce/fetch legs themselves cost. Per scale: produce wall
    (v0 message sets and v3 record batches), batch consume wall
    (Fetch v0 and v4), and a capped stream-reader drain (the
    maxRecordsPerBatch cursor loop — the driver-side simple-reader
    path). Linear walls across N confirm the verification-carve stance:
    the loopback leg is O(records) with no superlinear parse/encode
    cost hiding anywhere; the 100 TB path is the connector jar, these
    codecs are the bounded evidence harness."""
    import time as _t

    from hyperswitch_data_backfill_spark.sinks.kafka_wire import (
        WireBroker,
        produce_rows,
    )
    from hyperswitch_data_backfill_spark.sources import kafka_fetch as kf

    base = int(sys.argv[2]) if len(sys.argv) > 2 else 5000
    factors = [int(x) for x in sys.argv[3:]] or [1, 4, 16]
    print("| N | records | produce v0 (s / krec/s) | produce v3 "
          "(s / krec/s) | fetch v0 (s / krec/s) | fetch v4 (s / krec/s) "
          "| stream drain cap=N/8 (s / batches) |")
    print("|---|---|---|---|---|---|---|")
    for n in factors:
        total = base * n
        rows = [{"key": f"k{i}", "value": f'{{"i":{i},"pad":"{"x" * 48}"}}',
                 "topic": "w0"} for i in range(total)]
        rows_v2 = [dict(r, topic="w2") for r in rows]
        with WireBroker() as b:
            t0 = _t.time()
            produce_rows(iter(rows), "127.0.0.1", b.port, batch_size=1000)
            p0 = _t.time() - t0
            t0 = _t.time()
            produce_rows(iter(rows_v2), "127.0.0.1", b.port,
                         batch_size=1000, wire_version=3)
            p3 = _t.time() - t0
            t0 = _t.time()
            got0 = kf.consume_topic("127.0.0.1", b.port, "w0", version=0)
            f0 = _t.time() - t0
            t0 = _t.time()
            got4 = kf.consume_topic("127.0.0.1", b.port, "w2", version=4)
            f4 = _t.time() - t0
            assert len(got0) == total and len(got4) == total
            reader = kf.KafkaWireStreamReader({
                "port": str(b.port), "topic": "w0",
                "maxrecordsperbatch": str(max(1, total // 8)),
            })
            t0 = _t.time()
            cursor = reader.initialOffset()
            drained, batches = 0, 0
            while drained < total:
                out, cursor = reader.read(cursor)
                out = list(out)
                if not out:
                    break
                drained += len(out)
                batches += 1
            sd = _t.time() - t0
            assert drained == total
        def rate(w: float) -> str:
            return f"{w:.2f} / {total / w / 1000:.0f}"
        print(f"| {n} | {total} | {rate(p0)} | {rate(p3)} | {rate(f0)} "
              f"| {rate(f4)} | {sd:.2f} / {batches} |")


def pgwire_mode() -> None:
    """--pgwire: throughput of the real-Postgres wire legs, no Spark —
    COPY-in rate, single-connection streamed scan rate, and 4-slice
    sequential scan rate (the per-task rate a 4-partition Spark read
    achieves IN PARALLEL), at growing row counts. Linear walls = no
    superlinear parse/encode cost anywhere in the protocol stack."""
    import time as _t

    from hyperswitch_data_backfill_spark.sources.pgwire import PgServer

    base = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    factors = [int(x) for x in sys.argv[3:]] or [1, 4, 16]
    print("| N | rows | COPY in (s / krow/s) | scan 1-conn (s / krow/s) "
          "| scan 4-slice seq (s / krow/s) |")
    print("|---|---|---|---|---|")
    with PgServer() as pg:
        with pg.connect() as conn:
            conn.execute(
                "CREATE TABLE reh (k bigint, grp int, s text, v float8)")
        for n in factors:
            total = base * n
            with pg.connect() as conn:
                conn.execute("TRUNCATE reh")
                t0 = _t.time()
                conn.copy_in(
                    "COPY reh (k, grp, s, v) FROM STDIN",
                    (f"{i}\t{i % 97}\tpayload-{i:016d}\t{i * 0.5}"
                     for i in range(total)))
                ci = _t.time() - t0
                t0 = _t.time()
                _cols, rows_iter = conn.query_stream(
                    "SELECT k, grp, s, v FROM reh")
                got = sum(1 for _ in rows_iter)
                s1 = _t.time() - t0
                assert got == total
            t0 = _t.time()
            got = 0
            stride = total // 4 + 1
            for lo in range(0, total, stride):
                with pg.connect() as conn:
                    _cols, rows_iter = conn.query_stream(
                        f"SELECT k, grp, s, v FROM reh WHERE k >= {lo}"
                        f" AND k < {lo + stride}")
                    got += sum(1 for _ in rows_iter)
            s4 = _t.time() - t0
            assert got == total

            def rate(w: float) -> str:
                return f"{w:.2f} / {total / w / 1000:.0f}"
            print(f"| {n} | {total} | {rate(ci)} | {rate(s1)} "
                  f"| {rate(s4)} |")


def group_mode() -> None:
    """--group: consumer-group coordination at growing member counts —
    N members join a P-partition topic concurrently (the rebalance
    storm every deploy/restart causes at scale), the assignment must be
    a complete disjoint cover, then half the members leave and the
    survivors must reconverge to a complete cover. Reports the
    join-storm and failover walls; linear-ish walls and exact covers =
    the coordination layer holds at fleet size."""
    import threading
    import time as _t

    from hyperswitch_data_backfill_spark.sinks.kafka_wire import WireCluster
    from hyperswitch_data_backfill_spark.sources import kafka_fetch as kf

    partitions = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    member_counts = [int(x) for x in sys.argv[3:]] or [2, 4, 8, 16]
    print("| members | partitions | join storm s | cover | failover s "
          "| cover after |")
    print("|---|---|---|---|---|---|")
    for n in member_counts:
        with WireCluster(n_brokers=2, topics={"t": partitions},
                         rebalance_barrier_s=10.0) as cluster:
            host, port = cluster.bootstrap
            members = [
                kf.WireConsumerGroup(host, port, "reh", ["t"],
                                     session_timeout_ms=60_000)
                for _ in range(n)
            ]
            # Every member gets a SERVICE THREAD that keeps the poll
            # loop alive (join, heartbeat, rejoin) until told to stop —
            # exactly a real consumer's shape. Polling blocking joins
            # from one thread starves the barrier (a member waiting in
            # join() would block its peers' heartbeats — measured: the
            # sequential version reported false BROKEN failovers).
            current: dict[int, dict] = {}
            stop = threading.Event()
            gone = set()

            def serve(i):
                m = members[i]
                current[i] = m.join()
                while not stop.is_set() and i not in gone:
                    if m.heartbeat() == "rebalance":
                        current[i] = m.join()
                    else:
                        _t.sleep(0.02)

            def covered(idxs) -> bool:
                owned = [p for i in idxs
                         for p in current.get(i, {}).get("t", [])]
                return (len(owned) == partitions
                        and len(set(owned)) == partitions)

            def wait_cover(idxs, budget) -> float | None:
                t0 = _t.time()
                while _t.time() - t0 < budget:
                    if all(i in current for i in idxs) and covered(idxs):
                        return _t.time() - t0
                    _t.sleep(0.02)
                return None

            threads = [threading.Thread(target=serve, args=(i,))
                       for i in range(n)]
            t0 = _t.time()
            for t in threads:
                t.start()
            join_wall = wait_cover(range(n), 60)
            cover = join_wall is not None
            # failover: the second half leaves; survivors reconverge
            t0 = _t.time()
            for i in range(n // 2, n):
                gone.add(i)
            for i in range(n // 2, n):
                threads[i].join(5)
                members[i].leave()
                current.pop(i, None)
            fail_wall = wait_cover(range(n // 2), 60)
            cover2 = fail_wall is not None
            fail_total = _t.time() - t0
            stop.set()
            for i in range(n // 2):
                threads[i].join(5)
                members[i].leave()
            print(f"| {n} | {partitions} | "
                  f"{join_wall if cover else 60:.2f} | "
                  f"{'OK' if cover else 'BROKEN'} | {fail_total:.2f} | "
                  f"{'OK' if cover2 else 'BROKEN'} |")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--events":
        events_mode()
    elif len(sys.argv) > 1 and sys.argv[1] == "--embeddings":
        embeddings_mode()
    elif len(sys.argv) > 1 and sys.argv[1] == "--pairs":
        pairs_mode()
    elif len(sys.argv) > 1 and sys.argv[1] == "--perceptual":
        perceptual_mode()
    elif len(sys.argv) > 1 and sys.argv[1] == "--wire":
        wire_mode()
    elif len(sys.argv) > 1 and sys.argv[1] == "--pgwire":
        pgwire_mode()
    elif len(sys.argv) > 1 and sys.argv[1] == "--group":
        group_mode()
    else:
        main()
