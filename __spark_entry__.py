"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Graph operators are made oracle-checkable by deriving edge tables from the
TPC-H-ish relations (FIXTURES.md §3): the customer->nation star graph and the
per-user event path graph keep recursive-CTE closures small; the
lineitem bipartite graph exercises scale. Every computed column is aliased
identically in the Spark code and the SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from em_connected_components_spark.functions import dedup_docs as dd
from em_connected_components_spark.functions import similarity as sim
from em_connected_components_spark.functions import text as tx
from em_connected_components_spark.operators import aggregates as agg
from em_connected_components_spark.operators import normalize as nrm
from em_connected_components_spark.plans.connected_components import (
    connected_components,
)
from em_connected_components_spark.plans.incremental import (
    incremental_connected_components,
)
from em_connected_components_spark.sources import tables as tbl

OFFSET = tbl.OFFSET


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact connected components of the customer<->nation star
    graph at sf0.001, returning per-component sizes (one row per nation
    cluster)."""
    edges = tbl.edges_customer_nation(spark, "/root/testdata/sf0.001")
    labels = connected_components(edges, small_graph_threshold=0)
    return (
        labels.groupBy("comp")
        .agg(F.count("*").alias("size"))
        .orderBy("comp")
    )


# ---------------------------------------------------------------------------
# queries — Spark side
# ---------------------------------------------------------------------------

def _q_edges_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    return tbl.edges_lineitem(spark, sf)


def _q_degrees_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    return agg.degrees(tbl.edges_lineitem(spark, sf))


def _q_degree_hist_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    return agg.degree_histogram(tbl.edges_lineitem(spark, sf))


def _q_max_node_id(spark: SparkSession, sf: str) -> DataFrame:
    return agg.max_node_id(tbl.edges_lineitem(spark, sf))


def _q_node_count(spark: SparkSession, sf: str) -> DataFrame:
    return agg.node_count_exact(tbl.edges_lineitem(spark, sf))


def _q_min_neighbor(spark: SparkSession, sf: str) -> DataFrame:
    return agg.min_neighbor(tbl.edges_lineitem(spark, sf)).withColumnRenamed(
        "min_neighbor", "min_nbr"
    )


def _q_max_neighbor(spark: SparkSession, sf: str) -> DataFrame:
    return agg.max_neighbor(tbl.edges_lineitem(spark, sf)).withColumnRenamed(
        "max_neighbor", "max_nbr"
    )


def _q_cc_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    edges = tbl.edges_customer_nation(spark, sf)
    return connected_components(edges, small_graph_threshold=0).orderBy("node")


def _q_cc_sizes_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    edges = tbl.edges_customer_nation(spark, sf)
    labels = connected_components(edges, small_graph_threshold=0)
    return agg.component_sizes(labels)


def _q_cc_events_paths(spark: SparkSession, sf: str) -> DataFrame:
    edges = tbl.edges_events(spark, sf)
    return connected_components(edges, small_graph_threshold=0).orderBy("node")


def _q_cc_lineitem_sizes(spark: SparkSession, sf: str) -> DataFrame:
    # large bipartite graph: component-size histogram. Oracle = unrolled
    # hook+jump label propagation (_cc_lineitem_sizes_oracle) — the recursive
    # closure oracle used for the small graphs would be O(n^2) here.
    edges = tbl.edges_lineitem(spark, sf)
    labels = connected_components(edges)
    return agg.component_size_histogram(labels)


def _q_cc_kkt_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # the KKT sample-and-filter driver (G8) — same exact partition and
    # min-member labels as the iterative loop, same recursive-CTE oracle
    from em_connected_components_spark.plans.policy import Policy

    edges = tbl.edges_customer_nation(spark, sf)
    pol = Policy(strategy="kkt", small_graph_edges=0)
    return connected_components(edges, policy=pol).orderBy("node")


def _q_cc_decremental(spark: SparkSession, sf: str) -> DataFrame:
    # decremental CC (VERDICT r4 #7): solve the full customer→nation graph,
    # then DELETE a deterministic ~1/7 of the edges (src % 7 == 0) via the
    # component-bounded re-solve. Result must equal a fresh solve over the
    # filtered edge set — the oracle is the same recursive-CTE CC over
    # edges WHERE src % 7 <> 0.
    from em_connected_components_spark.plans.decremental import (
        decremental_connected_components,
    )

    edges = tbl.edges_customer_nation(spark, sf)
    labels = connected_components(edges)
    removed = edges.filter(F.pmod(F.col("src"), F.lit(7)) == 0)
    return decremental_connected_components(
        labels, edges, removed, pre_canonicalized=True
    ).orderBy("node")


def _q_cc_kkt_checkpointed(spark: SparkSession, sf: str) -> DataFrame:
    # KKT driver WITH the phase checkpointer armed (VERDICT r4 #4b): the
    # bare-KKT oracle query never exercises the PhaseCheckpointer commit
    # path; this one runs the identical solve while committing split/L1/
    # filter/L2 phases (+ nested sub-solve round checkpoints) to a fresh
    # Hadoop-FS root — same exact partition and min-member labels, so the
    # same recursive-CTE oracle applies.
    import tempfile

    from em_connected_components_spark.checkpoint import RoundCheckpointer
    from em_connected_components_spark.plans.policy import Policy

    edges = tbl.edges_customer_nation(spark, sf)
    pol = Policy(strategy="kkt", small_graph_edges=0)
    root = tempfile.mkdtemp(prefix="emccs_kkt_q_")
    ck = RoundCheckpointer(spark, root)
    return connected_components(edges, policy=pol, checkpointer=ck).orderBy(
        "node"
    )


def _q_cc_streaming_labels(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming label maintenance end-to-end (VERDICT r4 #4a): the
    # customer→nation edge table is split DETERMINISTICALLY into 3
    # micro-batches (by src mod 3), streamed one file per trigger through
    # the foreachBatch fold (first batch: full solve; later batches:
    # incremental_connected_components), and the FINAL COMMITTED label
    # table is returned. Equal by construction to the batch solve over all
    # edges, so the same recursive-CTE oracle applies.
    import os
    import tempfile

    from em_connected_components_spark.streaming.events import (
        current_labels,
        streaming_label_maintenance,
    )

    edges = tbl.edges_customer_nation(spark, sf)
    d = tempfile.mkdtemp(prefix="emccs_stream_q_")
    src_dir = os.path.join(d, "edges")
    for i in range(3):
        edges.filter(F.pmod(F.col("src"), F.lit(3)) == i).coalesce(
            1
        ).write.parquet(os.path.join(src_dir, f"b{i}"))
    stream = (
        spark.readStream.schema("src long, dst long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*")
    )
    q = streaming_label_maintenance(
        stream,
        os.path.join(d, "labels"),
        os.path.join(d, "ckpt"),
        small_graph_threshold=0,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return current_labels(spark, os.path.join(d, "labels")).orderBy("node")


def _q_cc_star_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # randomized star-contraction rounds (G3): roots are coin-picked members,
    # so only the PARTITION is canonical — re-root onto min members
    # (joins.canonical_min_labels) to compare against the same oracle
    from em_connected_components_spark.operators.joins import (
        canonical_min_labels,
    )
    from em_connected_components_spark.plans.policy import Policy

    edges = tbl.edges_customer_nation(spark, sf)
    pol = Policy(strategy="iterative", small_graph_edges=0, star_density=1e18)
    labels = connected_components(edges, policy=pol)
    return canonical_min_labels(labels).orderBy("node")


def _q_cc_bundles_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # SibeynWithBundles pre-pass (G6): one bundle-local union-find before the
    # iterative loop; identical labels
    edges = tbl.edges_customer_nation(spark, sf)
    return connected_components(
        edges, small_graph_threshold=0, local_solve_bucket_width=1 << 12
    ).orderBy("node")


def _q_cc_doubling_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # the ABOVE-THE-BROADCAST-BOUND jump plan (path doubling — the measured
    # winner over chained shuffle probes, BENCH/jump_ab.json): forcing both
    # the broadcast bound and the local-jump threshold to 0 routes every
    # round's pointer jumping through _pointer_jump's log(depth) self-joins;
    # identical labels, same recursive-CTE oracle
    edges = tbl.edges_customer_nation(spark, sf)
    return connected_components(
        edges, small_graph_threshold=0, jump_local_threshold=0,
        broadcast_threshold_rows=0,
    ).orderBy("node")


def _q_cc_bucketed_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # CC through the bucketed EdgeCatalog (VERDICT r3 #5a): edges land in a
    # src-bucketed table (HashPartitioning recorded in the catalog — the
    # exchange-free 100 TB entry point; plan-level no-Exchange assertions
    # live in tests/test_catalog_bucketed.py) and CC consumes spark.table(),
    # not the in-memory DataFrame. Labels must be identical to the direct
    # path — same recursive-CTE oracle.
    from em_connected_components_spark.sources.catalog import EdgeCatalog

    table = "emcc_driver_cc_bucketed"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    cat = EdgeCatalog(
        spark, f"/tmp/emcc_driver_bucketed/{table}", buckets=8
    )
    cat.write_bucketed(tbl.edges_customer_nation(spark, sf), table)
    return connected_components(
        cat.read_bucketed(table), small_graph_threshold=0
    ).orderBy("node")


def _q_cc_hub_seeded_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # hub-seeded heavy-split CC (VERDICT r3 #5b): the nation nodes (the star
    # centers) are passed as ONLINE hub seeds — the shape
    # streaming.events.collect_hub_seeds produces from the running degree
    # monitor — and broadcast_threshold_rows=0 forces the shuffled relabel
    # path so round 0 actually arms the literal-map heavy split from the
    # seed list (hub_source="seeded", no degree-detect job). Labels are
    # unchanged by the fast path — same recursive-CTE oracle.
    edges = tbl.edges_customer_nation(spark, sf)
    seeds = [
        r["dst"] for r in edges.select("dst").distinct().collect()
    ]
    return connected_components(
        edges, small_graph_threshold=0, broadcast_threshold_rows=0,
        hub_seeds=seeds,
    ).orderBy("node")


def _q_cc_incremental_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # incremental CC (plans/incremental.py): solve a deterministic 2/3 of
    # the edge set, then fold the remaining 1/3 in as a delta batch via
    # relabel -> solve-the-delta -> compose (the KKT driver's own internal
    # composition, cpp/FunctionalSubproblemManager.h:181-296,620-656,
    # applied online). Min-member labels compose EXACTLY, so the result is
    # bit-identical to the full solve and shares its recursive-CTE oracle.
    edges = tbl.edges_customer_nation(spark, sf)
    batch1 = edges.filter(F.col("src") % 3 != 0)
    delta = edges.filter(F.col("src") % 3 == 0)
    base = connected_components(batch1, small_graph_threshold=0)
    return incremental_connected_components(
        base, delta, small_graph_threshold=0
    ).orderBy("node")


def _q_multimodal_image_features(spark: SparkSession, sf: str) -> DataFrame:
    # REAL image decode end-to-end (VERDICT r3 #4): deterministic 4x4 raster
    # payloads are synthesized per doc_id (PPM/P6 for even ids, 24-bit BMP
    # for odd — both decoded by the pure-numpy decoders, no codec libs),
    # then features are extracted by the Arrow-batched mapInPandas kernel
    # with fake=False. Pixel intensity p of pixel index i is
    # (doc_id % 240) + i across all 3 channels, so the oracle recomputes
    # n_bytes/width/height/mean_intensity in closed form.
    from em_connected_components_spark.functions import multimodal as mm

    docs = tbl.load_table(spark, sf, "documents").select("doc_id")

    def gen(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                base = int(d) % 240
                px = (
                    (base + np.arange(16, dtype=np.int64))
                    .astype(np.uint8)
                    .reshape(4, 4, 1)
                    .repeat(3, axis=2)
                )
                payloads.append(
                    mm.encode_ppm(px) if d % 2 == 0 else mm.encode_bmp(px)
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(gen, schema="media_id long, payload binary")
    return mm.extract_image_features(media, fake=False).select(
        "media_id", "n_bytes", "width", "height", "mean_intensity"
    )


def _q_audio_features_docs(spark: SparkSession, sf: str) -> DataFrame:
    # REAL audio decode end-to-end: deterministic 16-sample mono 16-bit PCM
    # WAV payloads synthesized per doc_id (sample i = doc_id % 200 + i,
    # rate 8000) and decoded by the pure-numpy RIFF/WAVE parser. Closed
    # forms the oracle recomputes: n_bytes = 44 + 32; mean = base + 7.5;
    # rms^2 = mean((base+i)^2) = base^2 + 15*base + 77.5 (exact in double:
    # integer sums divided by 16), so sqrt matches bit-for-bit.
    from em_connected_components_spark.functions import multimodal as mm

    docs = tbl.load_table(spark, sf, "documents").select("doc_id")

    def gen(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].to_numpy()
            payloads = [
                mm.encode_wav(
                    (int(d) % 200) + np.arange(16, dtype=np.int64),
                    sample_rate=8000,
                )
                for d in ids
            ]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(gen, schema="media_id long, payload binary")
    return mm.extract_audio_features(media)


def _q_permute_ids_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # R5 random-id-permutation preprocessing (cpp/preprocess.cpp:21-45):
    # rank-by-md5 permutation of the node set applied through the standard
    # relabel joins, re-oriented. Deterministic under (seed, node set), so
    # DuckDB reproduces the identical relabeled edge table bit-for-bit.
    edges = tbl.edges_customer_nation(spark, sf)
    out, _mapping = nrm.permute_node_ids(edges, seed=42)
    return out.orderBy("src", "dst")


def _q_pagerank_spmv_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # the CSR gather-scatter pandas-UDF executor — same update rule, same
    # unrolled-SQL oracle as the DataFrame PageRank
    from em_connected_components_spark.plans.pagerank import pagerank_spmv

    edges = tbl.edges_customer_nation(spark, sf)
    pr = pagerank_spmv(edges, max_iters=30, tol=0.0)
    return pr.select("node", F.round("rank", 6).alias("rank6")).orderBy("node")


def _q_lp_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    from em_connected_components_spark.plans.label_propagation import (
        label_propagation,
    )

    edges = tbl.edges_customer_nation(spark, sf)
    return label_propagation(edges).orderBy("node")


def _q_triangles_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    from em_connected_components_spark.plans.triangles import triangles_count

    return triangles_count(tbl.edges_tripartite(spark, sf))


def _q_triangles_per_node(spark: SparkSession, sf: str) -> DataFrame:
    from em_connected_components_spark.plans.triangles import triangles_per_node

    return triangles_per_node(tbl.edges_tripartite(spark, sf))


def _q_pagerank_customer_nation(spark: SparkSession, sf: str) -> DataFrame:
    # exactly 30 power iterations (tol=0 -> no early stop), ranks rounded to
    # 6dp (the graft contract's allclose-1e-6 tolerance) so the oracle's
    # float64 recomputation in a different summation order agrees exactly.
    # The NumPy allclose oracle at full precision lives in pytest.
    from em_connected_components_spark.plans.pagerank import pagerank

    edges = tbl.edges_customer_nation(spark, sf)
    pr = pagerank(edges, max_iters=30, tol=0.0)
    return pr.select("node", F.round("rank", 6).alias("rank6")).orderBy("node")


# --- relational coverage (scan/filter/agg/join/window/rollup) --------------

def _q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    li = tbl.load_table(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def _q_top_orders_per_cust(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = tbl.load_table(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


def _q_segment_revenue(spark: SparkSession, sf: str) -> DataFrame:
    o = tbl.load_table(spark, sf, "orders")
    c = tbl.load_table(spark, sf, "customer")
    return (
        o.join(c, on=o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
    )


def _q_orders_rollup(spark: SparkSession, sf: str) -> DataFrame:
    o = tbl.load_table(spark, sf, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


def _q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    ev = tbl.load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def _q_events_sessions(spark: SparkSession, sf: str) -> DataFrame:
    # sessionization: a new session starts after a >30-minute gap
    from pyspark.sql import Window as W

    ev = tbl.load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("sess_id", F.sum("new_sess").over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ))
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events")
    )


# --- documents: text analysis + dedup ---------------------------------------

def _q_docs_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    d = tbl.load_table(spark, sf, "documents")
    return d.select("doc_id", tx.token_count("text").alias("n_tokens"))


def _q_docs_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    d = tbl.load_table(spark, sf, "documents")
    return d.select("doc_id", tx.fingerprint("text").alias("fp"))


def _q_docs_lang_hist(spark: SparkSession, sf: str) -> DataFrame:
    d = tbl.load_table(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


def _q_docs_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = tbl.load_table(spark, sf, "documents")
    return tx.quality_features(d).select(
        "doc_id", "n_chars_q", "n_tokens_q", "n_punct_q", "n_digits_q", "n_upper_q"
    )


def _q_docs_exact_dup_groups(spark: SparkSession, sf: str) -> DataFrame:
    d = tbl.load_table(spark, sf, "documents")
    return dd.exact_duplicate_groups(d)


def _q_docs_minhash_sigs(spark: SparkSession, sf: str) -> DataFrame:
    d = tbl.load_table(spark, sf, "documents")
    sh = dd.shingles(d, n=3)
    return dd.minhash_signatures(sh, num_hashes=4)


def _q_docs_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # exact n-gram Jaccard >= 0.2 over pairs sharing >=1 shingle; candidate
    # generation is df-capped (stop-shingle guardrail — a shingle in f docs
    # makes f^2 join rows, so the cap bounds the self-join at web scale)
    d = tbl.load_table(spark, sf, "documents")
    return dd.jaccard_near_duplicates(d, n=3, max_doc_freq=1000, threshold=0.2)


def _q_docs_minhash_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    # the scalable LSH pipeline — every hash is md5-derived, so the DuckDB
    # oracle reproduces the candidate set and Jaccard values exactly
    d = tbl.load_table(spark, sf, "documents")
    return dd.minhash_near_duplicates(d, threshold=0.2)


def _q_docs_simhash(spark: SparkSession, sf: str) -> DataFrame:
    # md5-feature simhash — bit-for-bit reproduced by the DuckDB oracle
    d = tbl.load_table(spark, sf, "documents")
    return dd.simhash(d)


def _q_docs_langid(spark: SparkSession, sf: str) -> DataFrame:
    # heuristic language ID (SQL-expression variant) — CASE-argmax oracle
    d = tbl.load_table(spark, sf, "documents")
    return d.select("doc_id", "lang", tx.language_id_expr("text").alias("lang_pred"))


# --- web pipeline: pages -> link extraction -> CC ----------------------------

def _q_web_pipeline_cc(spark: SparkSession, sf: str) -> DataFrame:
    # the 100 TB pipeline end-to-end at fixture scale: deterministic HTML
    # corpus whose link graph is a known generator graph -> vectorized Arrow
    # link extraction -> url hashing -> canonicalize -> exact CC -> component
    # size histogram. Rows-only check (DuckDB has no HTML extractor; the
    # byte-identical-text invariant is pytest-covered in tests/test_web.py).
    from em_connected_components_spark.operators.normalize import canonicalize
    from em_connected_components_spark.operators import aggregates as ag
    from em_connected_components_spark.sources.pages import fixture_pages
    from em_connected_components_spark.web.extract import pages_to_edges

    # 40 disjoint 5-cliques -> 40 components of size 5
    k, cnt = 5, 40
    fixture_edges = [
        (c * k + a, c * k + b)
        for c in range(cnt)
        for a in range(k)
        for b in range(a + 1, k)
    ]
    pages = fixture_pages(spark, fixture_edges, n_pages=k * cnt)
    edges = canonicalize(pages_to_edges(pages))
    labels = connected_components(edges, small_graph_threshold=0)
    return ag.component_size_histogram(labels)


# --- embeddings: similarity search ------------------------------------------

def _q_knn_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    emb = tbl.load_table(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_bruteforce(emb, queries_df, k=5)


def _q_knn_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # approximate ANN via random-hyperplane buckets; the oracle embeds the
    # same deterministic hyperplane floats as SQL literals
    emb = tbl.load_table(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_lsh(emb, queries_df, dim=64, k=5, planes=8)


def _q_emb_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    # exact embedding-cosine near-duplicate pairs (the semantic-dedup baseline)
    emb = tbl.load_table(spark, sf, "embeddings")
    return sim.embedding_near_duplicates(emb, threshold=0.4)


def _q_emb_near_dups_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # LSH-bucketed near-dup candidates + exact within-bucket filter — the
    # 100 TB path; approximate by bucketing, but deterministic — oracle
    # replays the same hyperplane literals
    emb = tbl.load_table(spark, sf, "embeddings")
    return sim.embedding_near_duplicates_lsh(emb, dim=64, threshold=0.4, planes=4)


def _q_knn_ivf(spark: SparkSession, sf: str) -> DataFrame:
    # IVF-flat ANN: inverted-list partitioning by nearest centroid; oracle
    # replays the md5 TakeOrdered centroid pick + assignment
    emb = tbl.load_table(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_ivf(emb, queries_df, k=5, n_lists=16, nprobe=4)


def _q_node_count_approx(spark: SparkSession, sf: str) -> DataFrame:
    # HLL++ sketch node count (reference's MinSketch/Tidemark/KSummary family,
    # cpp/MinSketch.h, cpp/Tidemark.h). The raw estimate is engine-specific
    # (DuckDB's HLL differs by design), so the value-checked contract is a
    # TOLERANCE BAND (VERDICT r4 #3): the estimate must land within ±5·rsd of
    # the exact distinct count (rsd=0.02 → ±10%; at 5 standard errors the
    # false-failure probability is ~0). Returns (n_nodes_exact,
    # approx_within_band) so the driver's hash compare checks the band.
    rsd = 0.02
    return (
        nrm.symmetrize(tbl.edges_lineitem(spark, sf))
        .agg(
            F.countDistinct("src").alias("n_nodes_exact"),
            F.approx_count_distinct("src", rsd).alias("__approx"),
        )
        .select(
            "n_nodes_exact",
            (
                F.abs(F.col("__approx") - F.col("n_nodes_exact"))
                <= 5 * rsd * F.col("n_nodes_exact")
            ).alias("approx_within_band"),
        )
    )


def _q_emb_norms_by_label(spark: SparkSession, sf: str) -> DataFrame:
    emb = tbl.load_table(spark, sf, "embeddings")
    return (
        sim.with_norm(emb)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("norm"), 6).alias("avg_norm6"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "edges_lineitem": _q_edges_lineitem,
        "degrees_lineitem": _q_degrees_lineitem,
        "degree_hist_lineitem": _q_degree_hist_lineitem,
        "max_node_id_lineitem": _q_max_node_id,
        "node_count_lineitem": _q_node_count,
        "min_neighbor_lineitem": _q_min_neighbor,
        "max_neighbor_lineitem": _q_max_neighbor,
        "cc_customer_nation": _q_cc_customer_nation,
        "cc_sizes_customer_nation": _q_cc_sizes_customer_nation,
        "cc_events_paths": _q_cc_events_paths,
        "cc_lineitem_sizes": _q_cc_lineitem_sizes,
        "cc_kkt_customer_nation": _q_cc_kkt_customer_nation,
        "cc_kkt_checkpointed": _q_cc_kkt_checkpointed,
        "cc_streaming_labels": _q_cc_streaming_labels,
        "cc_decremental_customer_nation": _q_cc_decremental,
        "cc_star_customer_nation": _q_cc_star_customer_nation,
        "cc_bucketed_customer_nation": _q_cc_bucketed_customer_nation,
        "cc_incremental_customer_nation": _q_cc_incremental_customer_nation,
        "multimodal_image_features": _q_multimodal_image_features,
        "audio_features_docs": _q_audio_features_docs,
        "permute_ids_customer_nation": _q_permute_ids_customer_nation,
        "pagerank_spmv_customer_nation": _q_pagerank_spmv_customer_nation,
        "lp_customer_nation": _q_lp_customer_nation,
        "triangles_lineitem": _q_triangles_lineitem,
        "triangles_per_node": _q_triangles_per_node,
        "pagerank_customer_nation": _q_pagerank_customer_nation,
        "tpch_q1": _q_tpch_q1,
        "top_orders_per_cust": _q_top_orders_per_cust,
        "segment_revenue": _q_segment_revenue,
        "orders_rollup": _q_orders_rollup,
        "events_hourly": _q_events_hourly,
        "events_sessions": _q_events_sessions,
        "docs_token_counts": _q_docs_token_counts,
        "docs_fingerprints": _q_docs_fingerprints,
        "docs_lang_hist": _q_docs_lang_hist,
        "docs_quality": _q_docs_quality,
        "docs_exact_dup_groups": _q_docs_exact_dup_groups,
        "docs_minhash_sigs": _q_docs_minhash_sigs,
        "docs_jaccard_pairs": _q_docs_jaccard_pairs,
        "docs_minhash_near_dups": _q_docs_minhash_near_dups,
        "docs_simhash": _q_docs_simhash,
        "docs_langid": _q_docs_langid,
        "knn_bruteforce": _q_knn_bruteforce,
        "knn_lsh": _q_knn_lsh,
        "knn_ivf": _q_knn_ivf,
        "emb_near_dups_exact": _q_emb_near_dups,
        "emb_near_dups_lsh": _q_emb_near_dups_lsh,
        "node_count_approx_lineitem": _q_node_count_approx,
        "web_pipeline_cc": _q_web_pipeline_cc,
        "emb_norms_by_label": _q_emb_norms_by_label,
        # positions 51-53, outside the driver's 50-query window: plan
        # variants whose plan shape pytest already pins
        "cc_bundles_customer_nation": _q_cc_bundles_customer_nation,
        "cc_doubling_customer_nation": _q_cc_doubling_customer_nation,
        "cc_hub_seeded_customer_nation": _q_cc_hub_seeded_customer_nation,
    }


# ---------------------------------------------------------------------------
# oracles — DuckDB side
# ---------------------------------------------------------------------------

_EDGES_LI = f"""
  SELECT DISTINCT l_orderkey AS src, l_suppkey + {OFFSET} AS dst FROM lineitem
"""

_SYM_LI = f"""
  WITH e AS ({_EDGES_LI}),
  sym AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)
"""

_EDGES_CN = f"""
  SELECT DISTINCT c_custkey AS src, c_nationkey + {OFFSET} AS dst FROM customer
"""

# min-member component label via recursive reachability over the symmetrized
# edge set; tractable because components are stars / short paths.
def _cc_oracle(edges_sql: str) -> str:
    return f"""
      WITH RECURSIVE e AS ({edges_sql}),
      sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      reach(node, x) AS (
        SELECT src, src FROM sym
        UNION
        SELECT r.node, s.dst FROM reach r JOIN sym s ON s.src = r.x
      )
      SELECT node, MIN(x) AS comp FROM reach GROUP BY node ORDER BY node
    """


# word 3-gram shingles, matching em_connected_components_spark.functions.
# dedup_docs.shingles: sliding slice of the whitespace-split word list; docs
# shorter than n words contribute their full text as one shingle.
_SHINGLES_SQL = r"""
  WITH words AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
  sh0 AS (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS shingle
    FROM words),
  sh AS (SELECT DISTINCT doc_id, shingle FROM sh0)
"""

_EDGES_EV = """
  SELECT src, dst FROM (
    SELECT event_id AS src,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL
"""


def _langid_oracle() -> str:
    """DuckDB port of text.language_id_expr: same marker counts (split-based,
    non-overlapping), same argmax tie rule (ties -> lexicographically greatest
    language, matching Spark's struct-greatest), 'und' when no marker hits."""
    from em_connected_components_spark.functions.text import _LANG_MARKERS

    langs = sorted(_LANG_MARKERS)
    hit_cols = []
    for lang in langs:
        terms = " + ".join(
            rf"(len(regexp_split_to_array(lt, '\s{w}\s')) - 1)"
            for w in _LANG_MARKERS[lang]
        )
        hit_cols.append(f"({terms}) AS h_{lang}")
    m = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + m + " <= 0 THEN 'und' "
    for lang in reversed(langs[1:]):
        case += f"WHEN h_{lang} = {m} THEN '{lang}' "
    case += f"ELSE '{langs[0]}' END AS lang_pred"
    return f"""
      WITH lt_docs AS (
        SELECT doc_id, lang, concat(' ', lower(text), ' ') AS lt FROM documents),
      sc AS (SELECT doc_id, lang, {', '.join(hit_cols)} FROM lt_docs)
      SELECT doc_id, lang, {case} FROM sc
    """


def _minhash_near_dups_oracle(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.2
) -> str:
    """DuckDB replica of dedup_docs.minhash_near_duplicates: every hash in the
    pipeline is md5-derived (engine-portable by design), so the LSH candidate
    set — not just the final Jaccard — is reproduced exactly."""
    rows = num_hashes // bands
    sig_cols = ", ".join(
        f"MIN(md5(concat('{i}:', shingle))) AS mh_{i}" for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(concat_ws('|', {', '.join(f'mh_{b * rows + r}' for r in range(rows))}))"
        " AS band_key FROM sigs"
        for b in range(bands)
    )
    return (
        _SHINGLES_SQL
        + f""",
      sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
      banded AS ({band_selects}),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh x ON x.doc_id = c.id_a
        JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
        GROUP BY c.id_a, c.id_b)
      SELECT i.id_a, i.id_b,
             round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard6
      FROM inter i
      JOIN sizes za ON za.doc_id = i.id_a
      JOIN sizes zb ON zb.doc_id = i.id_b
      WHERE round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) >= {threshold}
    """
    )


def _pagerank_oracle(
    edges_sql: str, iters: int = 30, damping: float = 0.85
) -> str:
    """Unrolled power iteration in DuckDB — same update rule as plans.pagerank
    (uniform teleport, dangling mass spread uniformly): one CTE triple
    (dangling agg, contribution agg, rank update) per iteration, MATERIALIZED
    so each rank table is computed once. Both engines run float64; ranks are
    compared after round(.,6), matching the contract's 1e-6 tolerance."""
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "odeg AS MATERIALIZED"
        " (SELECT src AS node, COUNT(*) AS out_deg FROM e GROUP BY src)",
        "base AS MATERIALIZED (SELECT n.node, COALESCE(o.out_deg, 0) AS out_deg"
        " FROM nodes n LEFT JOIN odeg o ON o.node = n.node)",
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank,"
        " out_deg FROM base)",
    ]
    d = damping
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0) AS dm"
            f" FROM {p} WHERE out_deg = 0)"
        )
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS node,"
            f" SUM(r.rank / r.out_deg) AS contrib"
            f" FROM e JOIN {p} r ON r.node = e.src AND r.out_deg > 0"
            " GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT b.node,"
            f" {1.0 - d} / (SELECT n FROM nn)"
            f" + {d} * (COALESCE(c.contrib, 0.0)"
            f" + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank,"
            f" b.out_deg FROM base b LEFT JOIN c{i} c ON c.node = b.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, round(rank, 6) AS rank6 FROM r{iters} ORDER BY node"
    )


def _cc_lineitem_sizes_oracle(rounds: int = 8) -> str:
    """Unrolled hook + double-pointer-jump min-label propagation over the
    lineitem bipartite graph — a DuckDB CC oracle that converges in O(log n)
    unrolled rounds (the recursive-closure oracle used for the small graphs is
    intractable here: ~15k nodes in one giant component). MATERIALIZED stops
    DuckDB re-inlining each doubly-referenced CTE (exponential blowup
    otherwise). 8 rounds ≈ reach 2^8 tree-depth; the sf0.01 graph is at
    fixpoint from round 4 (verified: rounds 4..8 produce identical output)."""
    ctes = [
        f"e AS MATERIALIZED ({_EDGES_LI})",
        "sym AS MATERIALIZED (SELECT src, dst FROM e"
        " UNION ALL SELECT dst AS src, src AS dst FROM e)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM sym)",
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        h, j1, j2 = f"h{i}", f"j{i}a", f"j{i}b"
        ctes.append(
            f"{h} AS MATERIALIZED (SELECT n.node,"
            " LEAST(n.lbl, COALESCE(m.mn, n.lbl)) AS lbl"
            f" FROM {prev} n LEFT JOIN (SELECT s.src AS node, MIN(l.lbl) AS mn"
            f" FROM sym s JOIN {prev} l ON l.node = s.dst GROUP BY s.src) m"
            " ON m.node = n.node)"
        )
        ctes.append(
            f"{j1} AS MATERIALIZED (SELECT a.node, b.lbl"
            f" FROM {h} a JOIN {h} b ON b.node = a.lbl)"
        )
        ctes.append(
            f"{j2} AS MATERIALIZED (SELECT a.node, b.lbl"
            f" FROM {j1} a JOIN {j1} b ON b.node = a.lbl)"
        )
        prev = j2
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
      SELECT size, COUNT(*) AS n_components FROM (
        SELECT lbl, COUNT(*) AS size FROM {prev} GROUP BY lbl) GROUP BY size
    """
    )


def _knn_ivf_oracle(
    n_lists: int = 16, nprobe: int = 4, k: int = 5, seed: int = 42
) -> str:
    """DuckDB replica of similarity.cosine_topk_ivf: identical md5-keyed
    centroid pick (smallest n_lists digests), nearest-centroid assignment
    with (cos desc, list_id asc) ties, probe join, exact re-rank."""
    return f"""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      cents AS (
        SELECT row_number() OVER (ORDER BY k, vec_id) - 1 AS list_id, e AS c
        FROM (SELECT vec_id, e,
                     md5(concat('{seed}:', CAST(vec_id AS VARCHAR))) AS k
              FROM v ORDER BY k, vec_id LIMIT {n_lists})),
      corpus_asn AS (
        SELECT vec_id, e, list_id FROM (
          SELECT v.vec_id, v.e, cents.list_id,
                 row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY list_cosine_similarity(v.e, cents.c) DESC,
                              cents.list_id ASC) AS pr
          FROM v CROSS JOIN cents) WHERE pr = 1),
      query_asn AS (
        SELECT vec_id AS qid, e AS qv, list_id FROM (
          SELECT v.vec_id, v.e, cents.list_id,
                 row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY list_cosine_similarity(v.e, cents.c) DESC,
                              cents.list_id ASC) AS pr
          FROM v CROSS JOIN cents WHERE v.vec_id < 10) WHERE pr <= {nprobe}),
      scored AS (
        SELECT DISTINCT q.qid AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(c.e, q.qv), 9) AS cos9
        FROM corpus_asn c JOIN query_asn q
          ON c.list_id = q.list_id AND c.vec_id != q.qid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos9 DESC, neighbor_id ASC) AS rank
        FROM scored) WHERE rank <= {k}
    """


def _simhash_oracle(bits: int = 64) -> str:
    """DuckDB replica of dedup_docs.simhash: identical md5 hi/lo 32-bit
    feature halves and per-bit majority votes. DuckDB's BIGINT shifts error on
    overflow (no silent two's-complement wrap), so the 64-bit value is
    accumulated in HUGEINT and wrapped to signed explicitly."""
    vote_cols = []
    for b in range(bits):
        src, sh = ("lo", b) if b < 32 else ("hi", b - 32)
        vote_cols.append(
            f"SUM(CASE WHEN (({src} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END) AS s_{b}"
        )
    terms = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END)"
        for b in range(bits)
    )
    return rf"""
      WITH words AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents),
      feat AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS hi,
               CAST('0x' || substr(md5(w), 9, 8) AS BIGINT) AS lo
        FROM words WHERE w != ''),
      votes AS (SELECT doc_id, {', '.join(vote_cols)} FROM feat GROUP BY doc_id),
      uns AS (SELECT doc_id, {terms} AS u FROM votes)
      SELECT doc_id,
             CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                       THEN u - 18446744073709551616::HUGEINT
                       ELSE u END AS BIGINT) AS simhash
      FROM uns
    """


def _plane_literal(row: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in row) + "]"


def _lsh_bucket_sql(planes: int, dim: int = 64, seed: int = 42) -> str:
    """DuckDB expression for similarity.lsh_bucket: the hyperplanes are a
    deterministic driver-side constant (splitmix64-mixed), so the oracle
    embeds the SAME floats as literals — bucket ids agree exactly unless a
    dot product sits within float-noise of 0 (measure-zero for this data)."""
    from em_connected_components_spark.functions.similarity import _hyperplanes

    hp = _hyperplanes(dim, planes, seed)
    terms = [
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_plane_literal(row)})"
        f" > 0 THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(hp)
    ]
    return "(" + " + ".join(terms) + ")"


def _knn_lsh_oracle(planes: int = 8, k: int = 5) -> str:
    b = _lsh_bucket_sql(planes)
    return f"""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, {b} AS bucket
                 FROM embeddings),
      q AS (SELECT vec_id AS qid, e AS qv, bucket FROM v WHERE vec_id < 10),
      scored AS (
        SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(c.e, q.qv), 9) AS cos9
        FROM v c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.qid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos9 DESC, neighbor_id ASC) AS rank
        FROM scored) WHERE rank <= {k}
    """


def _emb_near_dups_lsh_oracle(planes: int = 4, threshold: float = 0.4) -> str:
    b = _lsh_bucket_sql(planes)
    return f"""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, {b} AS bucket
                 FROM embeddings)
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.e, b.e), 9) AS cos9
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.e, b.e), 9) >= {threshold}
    """


def oracle_sql() -> dict[str, str]:
    return {
        "edges_lineitem": _EDGES_LI,
        "degrees_lineitem": f"""
          {_SYM_LI}
          SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY src
        """,
        "degree_hist_lineitem": f"""
          {_SYM_LI},
          deg AS (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY src)
          SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
        """,
        "max_node_id_lineitem": f"""
          WITH e AS ({_EDGES_LI})
          SELECT MAX(GREATEST(src, dst)) AS max_node_id FROM e
        """,
        "node_count_lineitem": f"""
          {_SYM_LI}
          SELECT COUNT(DISTINCT src) AS n_nodes FROM sym
        """,
        "min_neighbor_lineitem": f"""
          {_SYM_LI}
          SELECT src AS node, MIN(dst) AS min_nbr FROM sym GROUP BY src
        """,
        "max_neighbor_lineitem": f"""
          {_SYM_LI}
          SELECT src AS node, MAX(dst) AS max_nbr FROM sym GROUP BY src
        """,
        "cc_customer_nation": _cc_oracle(_EDGES_CN),
        "cc_sizes_customer_nation": f"""
          WITH lab AS ({_cc_oracle(_EDGES_CN)})
          SELECT comp, COUNT(*) AS size FROM lab GROUP BY comp
        """,
        "cc_events_paths": _cc_oracle(_EDGES_EV),
        "cc_lineitem_sizes": _cc_lineitem_sizes_oracle(),
        "lp_customer_nation": f"""
          WITH cc AS ({_cc_oracle(_EDGES_CN)})
          SELECT node, comp AS label FROM cc ORDER BY node
        """,
        "triangles_lineitem": f"""
          WITH raw AS (
            SELECT l_orderkey AS src, l_partkey + {OFFSET} AS dst FROM lineitem
            UNION ALL SELECT l_orderkey, l_suppkey + {2 * OFFSET} FROM lineitem
            UNION ALL SELECT l_partkey + {OFFSET}, l_suppkey + {2 * OFFSET} FROM lineitem),
          c AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM raw)
          SELECT COUNT(*) AS n_triangles
          FROM c e1 JOIN c e2 ON e2.a = e1.a AND e2.b > e1.b
                    JOIN c e3 ON e3.a = e1.b AND e3.b = e2.b
        """,
        "triangles_per_node": f"""
          WITH raw AS (
            SELECT l_orderkey AS src, l_partkey + {OFFSET} AS dst FROM lineitem
            UNION ALL SELECT l_orderkey, l_suppkey + {2 * OFFSET} FROM lineitem
            UNION ALL SELECT l_partkey + {OFFSET}, l_suppkey + {2 * OFFSET} FROM lineitem),
          c AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM raw),
          tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM c e1 JOIN c e2 ON e2.a = e1.a AND e2.b > e1.b
                      JOIN c e3 ON e3.a = e1.b AND e3.b = e2.b),
          nodes AS (
            SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
          SELECT node, COUNT(*) AS n_triangles FROM nodes GROUP BY node
        """,
        "pagerank_customer_nation": _pagerank_oracle(_EDGES_CN),
        "pagerank_spmv_customer_nation": _pagerank_oracle(_EDGES_CN),
        "cc_kkt_customer_nation": _cc_oracle(_EDGES_CN),
        "cc_kkt_checkpointed": _cc_oracle(_EDGES_CN),
        "cc_streaming_labels": _cc_oracle(_EDGES_CN),
        "cc_decremental_customer_nation": _cc_oracle(
            f"SELECT src, dst FROM ({_EDGES_CN}) WHERE src % 7 <> 0"
        ),
        "cc_star_customer_nation": _cc_oracle(_EDGES_CN),
        "cc_bundles_customer_nation": _cc_oracle(_EDGES_CN),
        "cc_doubling_customer_nation": _cc_oracle(_EDGES_CN),
        "cc_bucketed_customer_nation": _cc_oracle(_EDGES_CN),
        "cc_hub_seeded_customer_nation": _cc_oracle(_EDGES_CN),
        # incremental == full solve bit-for-bit (plans/incremental.py), so the
        # delta-composed result shares the batch recursive-CTE oracle
        "cc_incremental_customer_nation": _cc_oracle(_EDGES_CN),
        "multimodal_image_features": """
          SELECT doc_id AS media_id,
                 CAST(CASE WHEN doc_id % 2 = 0 THEN 59 ELSE 102 END
                      AS BIGINT) AS n_bytes,
                 CAST(4 AS INT) AS width,
                 CAST(4 AS INT) AS height,
                 CAST(doc_id % 240 + 7.5 AS DOUBLE) AS mean_intensity
          FROM documents
        """,
        "audio_features_docs": """
          SELECT doc_id AS media_id,
                 CAST(76 AS BIGINT) AS n_bytes,
                 CAST(8000 AS INT) AS sample_rate,
                 CAST(1 AS INT) AS n_channels,
                 CAST(16 AS BIGINT) AS n_samples,
                 CAST(2 AS BIGINT) AS duration_ms,
                 CAST(doc_id % 200 + 7.5 AS DOUBLE) AS mean_amp,
                 round(sqrt((doc_id % 200) * (doc_id % 200)
                            + 15.0 * (doc_id % 200) + 77.5), 6) AS rms6
          FROM documents
        """,
        "permute_ids_customer_nation": f"""
          WITH e AS ({_EDGES_CN}),
          nodes AS (
            SELECT DISTINCT node FROM (
              SELECT src AS node FROM e UNION ALL SELECT dst FROM e
            )
          ),
          perm AS (
            SELECT node,
                   CAST(ROW_NUMBER() OVER (
                     ORDER BY md5('42:' || CAST(node AS VARCHAR)), node
                   ) AS BIGINT) AS new_id
            FROM nodes
          ),
          rel AS (
            SELECT ps.new_id AS s, pd.new_id AS d
            FROM e
            JOIN perm ps ON e.src = ps.node
            JOIN perm pd ON e.dst = pd.node
          )
          SELECT LEAST(s, d) AS src, GREATEST(s, d) AS dst FROM rel
        """,
        "tpch_q1": """
          SELECT l_returnflag, l_linestatus,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
                 COUNT(*) AS count_order
          FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders_per_cust": """
          SELECT o_custkey, o_orderkey, rk FROM (
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
            FROM orders) WHERE rk <= 3
        """,
        "segment_revenue": """
          SELECT c_mktsegment, COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment
        """,
        "orders_rollup": """
          SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
          FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "events_hourly": """
          SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS win_start,
                 event_type, COUNT(*) AS n_events
          FROM events GROUP BY 1, 2
        """,
        "events_sessions": """
          WITH g AS (
            SELECT user_id, ts, event_id,
                   epoch(ts) - epoch(lag(ts) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
            FROM events),
          s AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
            FROM g)
          SELECT user_id, sess_id, COUNT(*) AS n_events
          FROM s GROUP BY user_id, sess_id
        """,
        "docs_token_counts": r"""
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
          FROM documents
        """,
        "docs_fingerprints": """
          SELECT doc_id, substr(md5(text), 1, 16) AS fp FROM documents
        """,
        "docs_lang_hist": """
          SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
          FROM documents GROUP BY lang
        """,
        "docs_quality": r"""
          SELECT doc_id,
                 length(text) AS n_chars_q,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens_q,
                 length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct_q,
                 length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits_q,
                 length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper_q
          FROM documents
        """,
        "docs_exact_dup_groups": """
          SELECT substr(md5(text), 1, 16) AS text_hash,
                 COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
          FROM documents GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "docs_minhash_sigs": _SHINGLES_SQL + """
          SELECT doc_id,
                 MIN(md5('0:' || shingle)) AS mh_0,
                 MIN(md5('1:' || shingle)) AS mh_1,
                 MIN(md5('2:' || shingle)) AS mh_2,
                 MIN(md5('3:' || shingle)) AS mh_3
          FROM sh GROUP BY doc_id
        """,
        "docs_jaccard_pairs": _SHINGLES_SQL + """,
          sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          kept AS (SELECT shingle FROM sh GROUP BY shingle
                   HAVING COUNT(*) <= 1000),
          shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
          cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
          inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
            FROM cand c
            JOIN sh x ON x.doc_id = c.id_a
            JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
            GROUP BY c.id_a, c.id_b)
          SELECT i.id_a, i.id_b,
                 round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard6
          FROM inter i
          JOIN sizes za ON za.doc_id = i.id_a
          JOIN sizes zb ON zb.doc_id = i.id_b
          WHERE round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) >= 0.2
        """,
        "knn_bruteforce": """
          WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                     FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
          scored AS (
            SELECT qid AS query_id, nid AS neighbor_id,
                   round(list_cosine_similarity(cv, qv), 9) AS cos9
            FROM c, q WHERE nid != qid)
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos9 DESC, neighbor_id ASC) AS rank
            FROM scored) WHERE rank <= 5
        """,
        "emb_near_dups_exact": """
          WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(a.e, b.e), 9) AS cos9
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.e, b.e), 9) >= 0.4
        """,
        "emb_norms_by_label": """
          SELECT label, COUNT(*) AS n_vecs,
                 round(AVG(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm6
          FROM embeddings GROUP BY label
        """,
        "knn_ivf": _knn_ivf_oracle(),
        "docs_simhash": _simhash_oracle(),
        "docs_langid": _langid_oracle(),
        "docs_minhash_near_dups": _minhash_near_dups_oracle(),
        "knn_lsh": _knn_lsh_oracle(),
        "emb_near_dups_lsh": _emb_near_dups_lsh_oracle(),
        # web_pipeline_cc: analytic oracle — the fixture corpus is 40 disjoint
        # 5-cliques BY CONSTRUCTION (see _q_web_pipeline_cc), so the component
        # size histogram is exactly one row. The byte-identical-text extraction
        # invariant itself is pinned by golden hashes in tests/test_web.py.
        "web_pipeline_cc": """
          SELECT CAST(5 AS BIGINT) AS size, CAST(40 AS BIGINT) AS n_components
        """,
        # node_count_approx_lineitem: banded oracle — the Spark side returns
        # (exact count, estimate-within-±5·rsd boolean); the oracle asserts
        # the same exact count and TRUE, so the hash compare value-checks the
        # estimator's accuracy contract instead of its engine-specific value.
        # The finer rsd-bound accuracy test lives in tests/test_operators.py.
        "node_count_approx_lineitem": f"""
          {_SYM_LI}
          SELECT COUNT(DISTINCT src) AS n_nodes_exact,
                 TRUE AS approx_within_band
          FROM sym
        """,
    }
