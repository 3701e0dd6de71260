"""Workload ``curation``: the curation operators over a seeded corpus.

Set-up generates ``DOCS`` documents with ``SyntheticDocsDataSource``'s row
function, adds
seeded exact copies (case and whitespace changed), near copies (last word
replaced) and a boilerplate header on a tenth of the documents, and writes
the corpus to local parquet. It also writes ``VECTORS`` seeded embeddings
(sf0.1 ``embeddings`` shape) with planted near-duplicates.

One pass, the unit call, runs ``add_text_stats`` -> ``remove_repeated_segments``
-> ``quality_percentile_prune`` -> ``minhash_lsh_pairs`` -> ``assign_components``
(keep the best document of each cluster) -> ``exact_dedup``, then
``embedding_near_dups``, which crosses the Arrow/``applyInPandas``
boundary. Each step's output is written to parquet (the stats and the
embedding pairs go to the noop sink and a count) so the next step reads a
materialized input. Between passes the cache is cleared, outside the
timed region.

Set-up is the session start and the input generation. There is no
warm-up pass: the first pass runs in a fresh JVM, as a curation job
submitted on its own does, so every run starts from the same cold state.
(A warm-up pass costs as much as a timed one, and the benchmark's time
budget holds only one.)

Every pass must keep the same documents. The kept set must equal DuckDB's
distinct over the same input, and the hash of the kept doc-ids is recorded
so runs can be compared.
"""

from __future__ import annotations

import gc
import hashlib
import os
import shutil
import time

import numpy as np

from perfbench.common import HostSpeed, median, metric, tree_cpu_s, tree_peak_rss_mb
from perfbench.spark_env import start_session, stop_session

DOCS = 1_000
EXACT_COPIES = DOCS // 25
NEAR_COPIES = DOCS // 25
VECTORS = 2_000
DIM = 64
PLANTED = VECTORS // 20
HEADER = "copyright notice all rights reserved"
CORPUS_FILES = 8


def make_inputs(seed: int, inputs: str) -> None:
    """Write the corpus (``CORPUS_FILES`` parquet files) and the
    embeddings. Documents come from the data source's own row function,
    ``make_doc``, so they equal what ``SyntheticDocsDataSource`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_evolve_spark.sources.synthetic import make_doc

    rng = np.random.default_rng(seed)
    docs = [list(make_doc(seed, i)[:4]) for i in range(DOCS)]
    for d, hdr in zip(docs, rng.random(DOCS) < 0.1):
        if hdr:
            d[1] = f"{HEADER} {d[1]}"
    # Copy sources are distinct documents (a stride coprime to DOCS), so no
    # text is shared by three documents and mistaken for boilerplate.
    for i in range(EXACT_COPIES + NEAR_COPIES):
        _id, text, lang, source = docs[(i * 7919 + seed) % DOCS]
        if i < EXACT_COPIES:
            text = f"  {text.upper()} "
        else:
            text = text.rsplit(" ", 1)[0] + " zebra"
        docs.append([DOCS + i, text, lang, source])
    order = rng.permutation(len(docs))
    cols = list(zip(*(docs[j] for j in order)))
    table = pa.table(
        {"doc_id": pa.array(cols[0], pa.int64()), "text": cols[1], "lang": cols[2], "source": cols[3]}
    )
    corpus = os.path.join(inputs, "corpus")
    os.makedirs(corpus)
    step = -(-table.num_rows // CORPUS_FILES)
    for k in range(CORPUS_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(corpus, f"part-{k:02d}.parquet"))

    vec = rng.standard_normal((VECTORS, DIM)).astype(np.float32)
    tgt = rng.choice(VECTORS, PLANTED, replace=False)
    srcs = rng.choice(VECTORS, PLANTED, replace=False)
    vec[tgt] = vec[srcs] + 0.01 * rng.standard_normal((PLANTED, DIM)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(VECTORS, dtype=np.int64),
                "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, VECTORS, dtype=np.int32),
            }
        ),
        os.path.join(inputs, "embeddings.parquet"),
    )


def one_pass(spark, inputs: str, stage: str, tr, host) -> dict:
    """Run the pipeline once, with a host-speed sample after every step;
    returns the counts the checks use."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from iceberg_evolve_spark.functions.dedup import (
        embedding_near_dups,
        exact_dedup,
        minhash_lsh_pairs,
        unpersist_intermediates,
    )
    from iceberg_evolve_spark.functions.graph import assign_components
    from iceberg_evolve_spark.functions.text import (
        add_text_stats,
        quality_percentile_prune,
        remove_repeated_segments,
    )

    def out(name: str) -> str:
        return os.path.join(stage, name)

    docs = spark.read.parquet(os.path.join(inputs, "corpus"))
    with tr.span("text.stats"):
        add_text_stats(docs).write.format("noop").mode("overwrite").save()
    host.sample()
    with tr.span("text.boilerplate"):
        rb = remove_repeated_segments(docs, "doc_id", "text")
        rb.join(docs.select("doc_id", "lang", "source"), "doc_id").select(
            "doc_id", F.col("clean_text").alias("text"), "lang", "source"
        ).write.mode("overwrite").parquet(out("clean"))
    host.sample()
    clean = spark.read.parquet(out("clean"))
    with tr.span("text.prune"):
        quality_percentile_prune(clean, stratum="lang", drop_frac=0.2).write.mode(
            "overwrite"
        ).parquet(out("pruned"))
    host.sample()
    pruned = spark.read.parquet(out("pruned"))
    with tr.span("dedup.minhash"):
        pairs = minhash_lsh_pairs(pruned, "doc_id", "text", num_hashes=16, bands=4, threshold=0.5)
        pairs.write.mode("overwrite").parquet(out("pairs"))
        unpersist_intermediates(pairs)
    host.sample()
    pairs = spark.read.parquet(out("pairs"))
    with tr.span("graph.components"):
        comp = assign_components(pruned, "doc_id", pairs)
        w = Window.partitionBy("cluster_id").orderBy(F.col("quality_score").desc(), F.col("doc_id"))
        comp.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").select(
            "doc_id", "text", "lang", "quality_score"
        ).write.mode("overwrite").parquet(out("best"))
    host.sample()
    best = spark.read.parquet(out("best"))
    with tr.span("dedup.exact"):
        exact_dedup(best, "doc_id", normalize_col="text").select("doc_id").write.mode(
            "overwrite"
        ).parquet(out("kept"))
    host.sample()
    emb = spark.read.parquet(os.path.join(inputs, "embeddings.parquet"))
    with tr.span("dedup.embedding"):
        emb_pairs = embedding_near_dups(emb, "vec_id", "embedding", threshold=0.95, blocks=2).count()
    host.sample()
    return {"emb_pairs": emb_pairs}


def _parquet_ids(path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    return np.sort(pq.read_table(path, columns=["doc_id"]).column("doc_id").to_numpy())


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[]).num_rows


def kept_hash(stage: str) -> str:
    return hashlib.sha256(_parquet_ids(os.path.join(stage, "kept")).tobytes()).hexdigest()


def duckdb_gate(stage: str) -> bool:
    """``exact_dedup`` survivors equal DuckDB's distinct over its input."""
    import duckdb

    con = duckdb.connect()
    try:
        want = con.execute(
            f"""SELECT min(doc_id) FROM read_parquet('{stage}/best/*.parquet')
                GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                ORDER BY 1"""
        ).fetchnumpy()["min(doc_id)"]
    finally:
        con.close()
    return np.array_equal(np.asarray(want, dtype=np.int64), _parquet_ids(os.path.join(stage, "kept")))


def _between_passes(spark) -> None:
    spark.catalog.clearCache()
    gc.collect()


def run(args, tr, t_process: float) -> dict:
    spark = start_session("perfbench-curation")
    startup_s = time.time() - t_process
    host = HostSpeed()
    host.sample()
    work = args.workdir
    inputs = os.path.join(work, "inputs")
    stage = os.path.join(work, "stage")
    t0 = time.perf_counter()
    make_inputs(args.seed, inputs)
    inputs_s = time.perf_counter() - t0
    host.sample()
    if tr.enabled:
        tr.attach_spark(spark)

    n_docs = DOCS + EXACT_COPIES + NEAR_COPIES
    attempted = failed = 0
    lat: list[float] = []
    hashes, emb_counts, pair_counts, kept_rows = [], [], [], []
    # every time leaves out the host-speed samples
    setup_wall_s = time.time() - t_process - host.spent_wall
    setup_cpu_s = tree_cpu_s() - host.spent_cpu
    t_start = time.perf_counter()
    timed = cpu_s = 0.0
    while attempted == 0 or time.perf_counter() - t_start < args.seconds:
        attempted += 1
        t0, c0 = time.perf_counter() - host.spent_wall, tree_cpu_s() - host.spent_cpu
        try:
            with tr.span("curation.pass"):
                res = one_pass(spark, inputs, stage, tr, host)
        except Exception:  # counted; the next pass still runs
            failed += 1
            _between_passes(spark)
            continue
        ms = (time.perf_counter() - host.spent_wall - t0) * 1000.0
        cpu_s += tree_cpu_s() - host.spent_cpu - c0
        timed += ms / 1000.0
        lat.append(ms)
        # untimed: checks, then a clean cache for the next pass
        hashes.append(kept_hash(stage))
        emb_counts.append(res["emb_pairs"])
        if tr.enabled:
            pair_counts.append(_rows(os.path.join(stage, "pairs")))
            kept_rows.append(_rows(os.path.join(stage, "kept")))
        _between_passes(spark)
    elapsed = time.perf_counter() - t_start
    peak_rss = tree_peak_rss_mb()
    if tr.enabled:
        tr.attach_spark(None)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    # every pass keeps the same documents and finds the same embedding
    # pairs; the last pass's survivors equal DuckDB's distinct
    attempted += 3
    failed += len(set(hashes)) > 1
    failed += len(set(emb_counts)) > 1
    failed += not duckdb_gate(stage)
    stop_session(spark)
    return {
        "attempted": attempted,
        "failed": failed,
        "items": n_docs * len(lat),
        # throughput over the passes themselves; the checks between them
        # are not part of the work
        "elapsed_s": timed,
        "cpu_s": cpu_s,
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        "host": host,
        "latencies_ms": lat,
        "peak_rss_mb": peak_rss,
        "extra": {
            "wall_s": elapsed,
            "kept_hash": hashes[0] if hashes else None,
            "emb_pairs": emb_counts[:1],
            "pairs": pair_counts,
            "kept_frac": (median(kept_rows) / n_docs) if kept_rows else 0.0,
            "inputs_s": inputs_s,
            "startup_s": startup_s,
        },
    }


def layer_metrics(tr, result: dict) -> dict:
    from perfbench.cdc_lifecycle import spark_layer

    def med(name: str) -> float:
        return median([s.ms for s in tr.named(name)])

    passes = tr.named("curation.pass")
    out = {
        "text.stats_ms": metric(med("text.stats"), "ms"),
        "text.boilerplate_ms": metric(med("text.boilerplate"), "ms"),
        "text.prune_ms": metric(med("text.prune"), "ms"),
        "dedup.minhash_ms": metric(med("dedup.minhash"), "ms"),
        "dedup.pairs": metric(median(result["extra"]["pairs"]), "count"),
        "graph.components_ms": metric(med("graph.components"), "ms"),
        "dedup.exact_ms": metric(med("dedup.exact"), "ms"),
        "dedup.embedding_ms": metric(med("dedup.embedding"), "ms"),
        "curation.kept_frac": metric(result["extra"]["kept_frac"], "ratio"),
    }
    out.update(spark_layer([tr.subtree_spark(s) for s in passes]))
    return out
