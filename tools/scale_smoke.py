"""10x scale smoke for the dedup/similarity paths.

Builds a one-off corpus at ~10x sf0.1 grain (documents replicated with
offset doc_ids and a deterministic per-copy marker token appended, so
copies are NEAR-duplicates, not byte-duplicates — the realistic shape),
then times the bucketed dedup operators at 1x and 10x from the SAME
session and prints the scaling factor per operator.

A capped/bucketed pipeline should scale ~linearly in rows (plus shuffle
log factors); a quadratic within-block blowup shows up as a >>10x time
ratio.  This is the local stand-in for the 100 TB question: the same
block-cap constants guard both.

Usage: python tools/scale_smoke.py [replication] [sf_dir]
Writes the scaled corpus under /tmp/lens_scale_smoke (re-created).
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from lens_sds_batch_spark.session import get_spark  # noqa: E402

# dup_pairs_pack = the former ngram_jaccard_pairs + embedding_dup_pairs
# arms (folded in round 3; registry names, see COVERAGE.md pack map)
OPS = ("dedup_basic_pack", "dup_pairs_pack",  # basic pack = former dedup_exact + dedup_fingerprint (r6 fold)
       "dedup_coverage",  # r14: cap/drop telemetry (aggregation-only; must scale like the tiers it measures)
       "dedup_minhash_pairs", "simhash_dup_pairs", "knn_lsh_bucketed",  # direct fn: not in the registry since the r6 knn_pack fold (brute arm is the labeled-quadratic baseline, excluded by design)
       "dedup_clusters", "stratified_sample", "pack_sequences",
       "curation_funnel",  # r6: composes quality gate + lang-id + dedup + near-dup + semantic pruning
       "doc_features_pack",  # r6: shared-checkpoint tokenized scan across 8 arms
       "text_pack", "layout_zorder",  # r6/r11 folds (text_pack = textstats+term_stats)
       # r5: the flagship + relational paths, over key-consistently
       # replicated customer/orders/lineitem/events (offsets preserve
       # join integrity, so these run the REAL pipelines at 10x)
       "odm_commands", "correlate_first_event", "q1_pricing_summary",
       "asof_join", "tpch_pack",  # tpch: part is NOT replicated (a dim), facts are
       # r8: XML ingestion path (render+scan+parse+route) and the
       # stateless IVF cell-assign projection over the full corpus
       # (the batch side of ivf_assign_stream; fixed deterministic
       # centers so the smoke times ASSIGNMENT, not the KMeans fit)
       "odm_xml_ingest", "assign_cells_full",
       # r9: the requeue fixpoint loop (bounded epochs; scales in rows
       # routed per epoch — event replication keeps the failure model
       # covering since it is event_id-modulus-derived)
       "requeue_routing",
       # r10: the skew-stressed salted join — scaling replicates the
       # fact (lineitem) only, so the hot key's share grows linearly
       # while the dim stays fixed: exactly the 100 TB shape
       "skew_salted_join",
       # r11 (verdict #4): the FULL registry — every remaining query now
       # has a recorded 10x ratio.  The one exclusion: knn_pack, whose
       # brute arm is the labeled-quadratic baseline by design (the
       # scale path is knn_lsh_bucketed above; ivf_knn is the other
       # sub-quadratic ANN and IS timed, KMeans fit included since its
       # sample size is fixed).
       "odm_commands_uuid5", "ivf_knn", "embedding_quantize_int8",
       "corpus_shuffle_split", "multimodal_meta", "entity_state_bucketed",
       "media_decode_stub", "media_chunks", "merge_lww", "cdc_guard_pack",
       "entity_state_subjects", "scd2_history", "session_window_agg",
       "q3_shipping_priority", "q5_nation_revenue", "window_topk_per_group",
       "agg_rollup", "events_tumbling", "sessionize", "salted_hot_key_agg",
       "joins_pack", "window_pack", "agg_percentile_pack",
       "row_scalar_pack", "shape_ops_pack",  # r14 fold of set_ops + reshape
       "time_aggs_pack", "approx_sketches", "entity_state_manifest",
       "schema_evolution")

BASE_TMP = "/tmp/lens_scale_smoke"


def build_scaled(spark, sf_dir: str, k: int, tables: set | None = None) -> str:
    """Replicate documents + embeddings k times with offset ids; each
    copy's text gets a copy-marker token so replicas are near-dups.

    `tables` optionally restricts which fact tables are replicated
    (dims are always copied — they're KB-sized): a caller timing only
    relational ops skips the documents/embeddings replication, the most
    expensive part of the build at k=100."""
    want = (lambda t: tables is None or t in tables)
    shutil.rmtree(BASE_TMP, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = spark.range(k).withColumnRenamed("id", "copy")
    scaled = (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") + F.col("copy") * n).alias("doc_id"),
            F.when(F.col("copy") == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" marker"), F.col("copy").cast("string")))
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    if want("documents"):
        scaled.repartition(32).write.parquet(f"{BASE_TMP}/documents.parquet")
    if want("embeddings"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        m = emb.agg(F.max("vec_id")).collect()[0][0] + 1
        (
            emb.crossJoin(F.broadcast(copies))
            .select((F.col("vec_id") + F.col("copy") * m).alias("vec_id"), "embedding", "label")
            .repartition(32)
            .write.parquet(f"{BASE_TMP}/embeddings.parquet")
        )

    # relational side, key-consistent: every key column is offset by the
    # SAME per-table stride in every referencing table, so joins (o_custkey
    # -> c_custkey, l_orderkey -> o_orderkey) stay intact at k copies
    def replicate(df, offsets: dict[str, int], name: str):
        cols = [
            ((F.col(c) + F.col("copy") * offsets[c]).alias(c) if c in offsets else F.col(c))
            for c in df.columns
        ]
        df.crossJoin(F.broadcast(copies)).select(*cols).repartition(32).write.parquet(
            f"{BASE_TMP}/{name}.parquet"
        )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nc = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    no = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ne = ev.agg(F.max("event_id")).collect()[0][0] + 1
    nu = ev.agg(F.max("user_id")).collect()[0][0] + 1
    if want("customer"):
        replicate(cust, {"c_custkey": nc}, "customer")
    if want("orders"):
        replicate(orders, {"o_orderkey": no, "o_custkey": nc}, "orders")
    if want("lineitem"):
        replicate(li, {"l_orderkey": no}, "lineitem")
    if want("events"):
        replicate(ev, {"event_id": ne, "user_id": nu}, "events")
    # dimension tables stay UNscaled (the realistic shape: facts grow,
    # dims don't) — copied so dim-joining queries (tpch_pack) resolve
    for dim in ("part", "supplier", "region", "nation"):
        shutil.copyfile(f"{sf_dir}/{dim}.parquet", f"{BASE_TMP}/{dim}.parquet")
    return BASE_TMP


def time_ops(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as em  # includes the flagship queries

    from lens_sds_batch_spark.operators.similarity import (
        IVF_K,
        _vecs,
        assign_cells,
        knn_lsh_bucketed,
    )

    def assign_cells_full(spark, sf_dir):
        vecs = _vecs(spark, sf_dir)
        dim = len(vecs.select("v").head()["v"])
        centers = [
            [float((7 * i + 3 * j) % 11 - 5) / 5.0 for j in range(dim)]
            for i in range(IVF_K)
        ]
        return assign_cells(vecs, centers)

    qs = {
        **em.queries(),
        "knn_lsh_bucketed": knn_lsh_bucketed,
        "assign_cells_full": assign_cells_full,
    }
    out = {}
    for name in OPS:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 2)
    return out


def main():
    global OPS
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    if len(sys.argv) > 3:  # comma-separated op subset (100x runs time a
        # few targeted ops; building + timing all of OPS takes tens of minutes)
        subset = sys.argv[3].split(",")
        unknown = set(subset) - set(OPS)
        if unknown:
            raise SystemExit(f"unknown ops: {sorted(unknown)}")
        OPS = tuple(o for o in OPS if o in subset)
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    scaled_dir = build_scaled(spark, sf_dir, k)
    base = time_ops(spark, sf_dir)  # warm (JVM+codegen) before the 10x run
    # odm_commands persists its frontier inside the builder; a stale 1x
    # cache competing for memory would bias the 10x timings this tool
    # exists to measure
    spark.catalog.clearCache()
    scaled = time_ops(spark, scaled_dir)
    report = {
        "replication": k,
        "base_sec": base,
        "scaled_sec": scaled,
        "ratio": {q: round(scaled[q] / max(base[q], 0.01), 1) for q in base},
    }
    print(json.dumps(report))
    shutil.rmtree(BASE_TMP, ignore_errors=True)


if __name__ == "__main__":
    main()
