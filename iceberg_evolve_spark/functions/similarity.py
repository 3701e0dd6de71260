"""Similarity search over embedding columns (``array<float>``).

Baseline: exact brute-force cosine top-k — a single narrow map + distributed
TopK (Spark's ``TakeOrderedAndProject``), no shuffle of the corpus. Scale paths:

* :func:`topk_ivf` — IVF-style two-stage search: partition the corpus once
  around sampled centroids (:func:`sample_centroids`), then probe only the
  ``n_probe`` nearest cells. At 100 TB the cell assignment becomes the
  table's physical partition key so a probe prunes partitions at the
  parquet/Iceberg scan.
* :func:`lsh_bucket` — deterministic random-hyperplane sign buckets (hash-derived
  hyperplanes, no stored model) for join-style candidate generation.

All cosine math is double-precision sequential folds over the array — exactly
reproducible by the DuckDB oracle (``list_`` lambdas).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential double fold (portable summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return (dot(a, b) / (norm(a) * norm(b))).cast("double")


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine_sim`` with the norms PRECOMPUTED per row: higher-order
    folds evaluate interpreted per element, so a pair join that recomputes
    both norms per PAIR pays 3 folds × dim interpreter steps per pair.
    Precomputing ``norm()`` once per row on each side leaves ONE fold per
    pair — bit-identical values (same fold, same sqrt, same division
    order), ~3× less interpreted work on anchor×corpus evaluation joins
    (r6, measured on embedding_hard_negatives)."""
    return (dot(a, b) / (na * nb)).cast("double")


def _unrolled_sum(terms: list[Column]) -> Column:
    """Left-associated ``0.0 + t₁ + t₂ + …`` — bit-identical to the
    sequential fold of :func:`dot` (IEEE: 0.0 + x == x), but a plain
    expression tree that whole-stage codegen compiles, where higher-order
    lambdas stay interpreted."""
    acc = F.lit(0.0)
    for t in terms:
        acc = acc + t
    return acc


def dot_unrolled(a: Column, b: Column, dims: int) -> Column:
    """Known-width dot product as explicit element_at multiply-adds — same
    values as :func:`dot` (same summation order), compiled by whole-stage
    codegen where the fold's lambda stays interpreted.

    WHEN TO USE (measured at dim 64, sf0.1): only where per-row pair
    compute dominates — two array COLUMNS per row in a large join
    (hard-negative mining: 7.4 s → 4.5 s). Do NOT use against literal
    query vectors or composed per-row many-dot shapes: the ~200-node tree
    slows analysis/constant-folding more than execution saves on small
    scans (topk_lsh 1.4 s → 11.6 s), and stacking it per centroid/plane
    overflows the JVM's 64 KB generated-method limit (IVF build save
    failed). The fold stays the default everywhere else."""
    return _unrolled_sum(
        [
            F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
            for i in range(1, dims + 1)
        ]
    )


def cosine_from_norms_unrolled(
    a: Column, b: Column, na: Column, nb: Column, dims: int
) -> Column:
    """:func:`cosine_from_norms` with the pair dot unrolled for known-width
    vectors — bit-identical values (same summation order, same division),
    codegen-compiled where the fold stays interpreted. Same usage guidance
    as :func:`dot_unrolled`: pair joins over two array COLUMNS only. With
    ``dims`` < the array length this equals the fold over ``slice(·,1,dims)``
    without materializing the slice per pair (element_at reads the prefix
    in place)."""
    return (dot_unrolled(a, b, dims) / (na * nb)).cast("double")


def cosine_sim_unrolled(a: Column, b: Column, dims: int) -> Column:
    """Codegen-friendly twin of :func:`cosine_sim` for known-width vectors;
    bit-identical output (same fold order in dot and both norms)."""
    na = F.sqrt(
        _unrolled_sum(
            [
                F.element_at(a, i).cast("double") * F.element_at(a, i).cast("double")
                for i in range(1, dims + 1)
            ]
        )
    )
    nb = F.sqrt(
        _unrolled_sum(
            [
                F.element_at(b, i).cast("double") * F.element_at(b, i).cast("double")
                for i in range(1, dims + 1)
            ]
        )
    )
    return (dot_unrolled(a, b, dims) / (na * nb)).cast("double")


def topk_brute_force(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact top-k by cosine against a constant query vector.

    The query is a literal array → the whole computation is one projection;
    ``ORDER BY ... LIMIT k`` compiles to TakeOrderedAndProject (per-partition
    heaps + driver merge — no global sort shuffle). Ties broken by id for
    determinism. Output: (id, cosine) — ``round_digits`` rounds the score so
    cross-engine float comparison is stable.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_sim(F.col(vec_col), q)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        df.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hyperplane_component(seed: str, p: int, d: int) -> float:
    """Deterministic hyperplane component ``hp[p][d] =
    (hash60('<seed>|p|d') % 2001 - 1000) / 1000`` ∈ [-1, 1], computed
    driver-side (hashlib md5 — identical value to the in-plan ``hash60``
    expression, and reproducible by any engine for oracle checks)."""
    import hashlib

    h = int(hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def lsh_bucket(
    vec_col: Column, dims: int, n_planes: int = 8, seed: str = "hp"
) -> Column:
    """Sign-bucket id from ``n_planes`` deterministic pseudo-random hyperplanes.

    Hyperplane components are hash-derived constants
    (:func:`hyperplane_component`) — no model object needs
    storing/broadcasting, any engine can recompute them, and the bucket id of
    a vector is stable across runs and engines. They are materialized as
    double LITERALS here (not per-row hash expressions: n_planes × dims md5
    calls per row would dominate the scan). Bucket id packs the sign bits:
    Σ (dot(v, hp_p) > 0) << p.
    """
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(
            *[
                F.lit(hyperplane_component(seed, p, d))
                for d in range(dims)
            ]
        )
        bit = F.when(dot(vec_col, plane) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's sign-bucket.

    At scale the bucket id is a stored/partitioned column, so this prunes the
    scan to ~1/2^n_planes of the corpus; here it is computed on the fly. Recall
    is tested against :func:`topk_brute_force` in the test suite.
    """
    dims = len(query_vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    bucketed = df.withColumn("_bucket", lsh_bucket(F.col(vec_col), dims, n_planes))
    # the query's bucket is a driver-side constant expression: evaluate via a 1-row df
    qb = (
        df.sparkSession.range(1)
        .select(lsh_bucket(q, dims, n_planes).alias("b"))
        .collect()[0]["b"]
    )
    sim = cosine_sim(F.col(vec_col), q)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        bucketed.filter(F.col("_bucket") == qb)
        .select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def sample_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: str = "ivf",
) -> list[list[float]]:
    """Engine-portable deterministic centroid selection: the ``n_centroids``
    corpus vectors whose rows have the smallest ``md5('<seed>|' || id)``
    (ties by id), in hash order — cell ``c`` is the ``c``-th such vector.

    This is a KMeans *random init* frozen at iteration zero: centroids are
    in-distribution (unlike hash-derived hypercube points), cells are
    roughly balanced for non-degenerate corpora, and — the property KMeans
    cannot offer — any engine can recompute the exact same centroid set
    with one ORDER BY md5(...) LIMIT k, making cell assignment and probe
    fully oracle-checkable. The same trick as the LSH hyperplanes
    (:func:`hyperplane_component`) and the JL matrix, applied to IVF.

    The collect is ``n_centroids × dims`` floats — index *metadata*, same
    scale class as the centroid matrix any IVF serving tier holds.
    """
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(
            F.md5(F.concat(F.lit(seed + "|"), F.col("_id").cast("string"))),
            F.col("_id"),
        )
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r["_v"]] for r in rows]


def l2sq_to_literal(vec_col: Column, centroid: list[float]) -> Column:
    """Squared L2 distance of an array column to a LITERAL centroid, as a
    sequential double fold: ``0.0 + (v1-c1)² + (v2-c2)² + ...`` — the exact
    association order DuckDB's ``list_reduce`` and a plain Python loop
    produce, so all three engines compute bit-identical doubles.

    Deliberately NOT unrolled: :func:`assign_cell` instantiates this once
    per centroid, and 16 centroids × 64 dims of explicit terms overflow the
    JVM's 64 KB generated-method limit inside write projections (observed:
    the IVF build's save failing with "Code grows beyond 64 KB"). The fold
    stays compact; unrolling pays off only for ONE pair per row
    (:func:`cosine_sim_unrolled`)."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(
            vec_col,
            c,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_cell(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id (argmin of squared L2, first match wins on
    ties) as a pure Catalyst projection over literal centroids — no model
    object, no join; the assignment an oracle can replay row-for-row."""
    dists = F.array(*[l2sq_to_literal(vec_col, c) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_subcodebooks(
    sample_vecs: list[list[float]], n_sub: int
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks derived from one deterministic corpus sample:
    codebook ``m`` is the ``m``-th slice of every sampled vector. One
    md5-ordered sample (the :func:`sample_centroids` trick) therefore defines
    ALL ``n_sub`` codebooks, which is what keeps the whole product quantizer
    engine-replayable."""
    dim = len(sample_vecs[0])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    ds = dim // n_sub
    return [
        [v[m * ds : (m + 1) * ds] for v in sample_vecs] for m in range(n_sub)
    ]


def pq_codes_column(
    vec_col: Column, sample_vecs: list[list[float]], n_sub: int
) -> Column:
    """Product-quantization code array (length ``n_sub``, values in
    ``0..len(sample_vecs)-1``): per subspace, the argmin-L2 codebook entry for
    that slice of the vector — :func:`assign_cell` applied per slice, so the
    encode is a pure Catalyst projection over literal codebooks."""
    books = pq_subcodebooks(sample_vecs, n_sub)
    ds = len(sample_vecs[0]) // n_sub
    return F.array(
        *[
            assign_cell(F.slice(vec_col, m * ds + 1, ds), books[m])
            for m in range(n_sub)
        ]
    )


def _l2sq_py(v: list[float], c: list[float]) -> float:
    """Driver-side mirror of :func:`l2sq_to_literal` — same sequential fold
    order, so probe-cell selection agrees with the in-plan doubles exactly."""
    acc = 0.0
    for x, y in zip(v, c):
        d = float(x) - float(y)
        acc = acc + d * d
    return acc


def nearest_cells(
    query_vec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The ``n_probe`` cells nearest the query (ties by cell id), computed
    with the fold-order arithmetic of :func:`_l2sq_py` for oracle parity."""
    dists = [_l2sq_py(query_vec, c) for c in centroids]
    order = sorted(range(len(centroids)), key=lambda c: (dists[c], c))
    return order[:n_probe]


class IVFIndex:
    """An OFFLINE-built IVF index: the corpus stored partitioned by its coarse
    cell, plus the (tiny, driver-held) centroid matrix.

    This is the split the 100 TB deployment needs: :func:`build_ivf_index` runs
    once per corpus version (the full-corpus centroid scan), writing the
    data physically partitioned by ``_cell``; :meth:`probe` is then a pure
    read-side query whose plan is a partition-pruned parquet scan + TopK —
    no model fit, no full-corpus scan, sub-second at any corpus size. The
    centroid matrix is n_centroids × d floats, small enough for the driver
    (metadata, not data).
    """

    def __init__(
        self,
        spark,
        path: str,
        centroids,
        id_col: str,
        vec_col: str,
        pq_sample: list[list[float]] | None = None,
        pq_m: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.centroids = [[float(x) for x in c] for c in centroids]
        self.id_col = id_col
        self.vec_col = vec_col
        self.pq_sample = (
            [[float(x) for x in v] for v in pq_sample] if pq_sample else None
        )
        self.pq_m = pq_m

    @property
    def assigned(self) -> DataFrame:
        """Corpus + ``_cell`` partition column, read from the partitioned store."""
        return self.spark.read.parquet(self.path)

    def _probe_cells(self, query_vec: list[float], n_probe: int) -> list[int]:
        return nearest_cells(query_vec, self.centroids, n_probe)

    def probe_quantized(
        self,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 4,
        rerank: int | None = None,
        round_digits: int | None = 6,
    ) -> DataFrame:
        """Two-stage probe over the int8 copy: scan ONLY (id, q, scale) in the
        probed cells — a 4× narrower read than the float column, and the scan
        is still partition-pruned — score approximately on the dequantized
        vectors, keep the top ``rerank`` (default ``4k``) candidates, then
        re-score EXACTLY against the float vectors via a broadcast semi-join
        back into the same pruned cells. At 100 TB this is the serving shape:
        IO ∝ quantized bytes of n_probe cells + ``rerank`` float rows.

        Requires the index to have been built with ``quantize=True``.
        """
        if rerank is None:
            rerank = 4 * k
        cells = self._probe_cells(query_vec, n_probe)
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])

        store = self.assigned.filter(F.col("_cell").isin(cells))
        # Stage 1: approximate scores on the narrow quantized columns.
        v_hat = F.transform("q", lambda x: x.cast("double") * F.col("scale"))
        approx = (
            store.select(self.id_col, "q", "scale")
            .select(self.id_col, cosine_sim(v_hat, qcol).alias("_approx"))
            .orderBy(F.col("_approx").desc(), F.col(self.id_col).asc())
            .limit(rerank)
            .select(self.id_col)
        )
        # Stage 2: exact cosine on the float vectors of the candidates only.
        sim = cosine_sim(F.col(self.vec_col), qcol)
        if round_digits is not None:
            sim = F.round(sim, round_digits)
        return (
            store.join(F.broadcast(approx), self.id_col)
            .select(F.col(self.id_col), sim.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(self.id_col).asc())
            .limit(k)
        )

    def append(self, df: DataFrame) -> "IVFIndex":
        """Incrementally add vectors WITHOUT rebuilding: assign the new batch
        to cells using the SAVED centroids (pure Catalyst projection — no
        refit, no scan of the existing store) and append it to the
        cell-partitioned store, carrying the same derived columns (SQ8 copy,
        PQ codes) the index was built with. This is the serving-tier
        maintenance path at 100 TB — daily ingest lands as new files inside
        existing cell directories; probes see it on the next read with
        unchanged plans. Centroids intentionally do NOT drift (probe/oracle
        reproducibility); rebuild when the corpus distribution moves.
        """
        assigned = df.select(
            *df.columns, assign_cell(F.col(self.vec_col), self.centroids).alias("_cell")
        )
        store_cols = set(self.assigned.columns)
        if "q" in store_cols and "scale" in store_cols:
            from iceberg_evolve_spark.functions.embedding import quantize_int8_cols

            qcol, scol = quantize_int8_cols(F.col(self.vec_col))
            assigned = assigned.withColumn("q", qcol).withColumn("scale", scol)
        if self.pq_sample is not None and "pq_codes" in store_cols:
            assigned = assigned.withColumn(
                "pq_codes", pq_codes_column(F.col(self.vec_col), self.pq_sample, self.pq_m)
            )
        missing = store_cols - set(assigned.columns) - {"_cell"}
        if missing:
            raise ValueError(f"append batch lacks index columns: {sorted(missing)}")
        assigned.repartition("_cell").write.mode("append").partitionBy("_cell").parquet(
            self.path
        )
        return self

    def probe_pq(
        self,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 4,
        rerank: int | None = None,
        round_digits: int | None = 6,
    ) -> DataFrame:
        """Product-quantization probe (IVF-PQ, Jégou et al., "Product
        quantization for nearest neighbor search", TPAMI 2011): stage 1 scans
        ONLY ``(id, pq_codes)`` of the probed cells — ``n_sub`` small ints per
        row, a ~32× narrower read than the float vectors at 64-dim — and
        scores each row by asymmetric distance computation: the query's
        per-subspace distance table (``n_sub × n_codes`` doubles, computed
        once on the driver with the same fold order the SQL oracle uses) is
        folded over the code array as literal-array lookups, entirely in
        codegen. The top ``rerank`` (default 4k) candidates are then re-scored
        EXACTLY against the float vectors via a broadcast semi-join into the
        same pruned cells.

        ADC ranks by approximate L2 while the final ranking is exact cosine —
        the rerank stage is what restores top-k quality. Requires a
        ``pq=True`` build. At 100 TB: IO = code bytes of n_probe cells +
        ``rerank`` float rows; the distance table is query-local metadata.
        """
        if self.pq_sample is None or self.pq_m is None:
            raise ValueError("index was not built with pq=True")
        if rerank is None:
            rerank = 4 * k
        books = pq_subcodebooks(self.pq_sample, self.pq_m)
        ds = len(self.pq_sample[0]) // self.pq_m
        # Driver-side ADC table: dt[m][c] = subL2(q_m, books[m][c]), in the
        # fold order shared by l2sq_to_literal / list_reduce.
        dt = [
            [
                _l2sq_py(query_vec[m * ds : (m + 1) * ds], c)
                for c in books[m]
            ]
            for m in range(self.pq_m)
        ]
        cells = self._probe_cells(query_vec, n_probe)
        store = self.assigned.filter(F.col("_cell").isin(cells))
        approx_dist = F.lit(0.0)
        for m in range(self.pq_m):
            table_m = F.array(*[F.lit(d) for d in dt[m]])
            approx_dist = approx_dist + F.element_at(
                table_m, F.element_at(F.col("pq_codes"), m + 1) + 1
            )
        candidates = (
            store.select(self.id_col, "pq_codes")
            .select(self.id_col, approx_dist.alias("_adc"))
            .orderBy(F.col("_adc").asc(), F.col(self.id_col).asc())
            .limit(rerank)
            .select(self.id_col)
        )
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])
        sim = cosine_sim(F.col(self.vec_col), qcol)
        if round_digits is not None:
            sim = F.round(sim, round_digits)
        return (
            store.join(F.broadcast(candidates), self.id_col)
            .select(F.col(self.id_col), sim.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(self.id_col).asc())
            .limit(k)
        )

    def probe_batch(
        self,
        queries: DataFrame,
        query_id_col: str = "query_id",
        query_vec_col: str = "qv",
        k: int = 10,
        n_probe: int = 4,
        round_digits: int | None = 6,
    ) -> DataFrame:
        """Top-k for a WHOLE TABLE of queries in one job — the offline batch
        serving shape (score every new document against the corpus, nightly
        retrieval refreshes), where per-query driver round trips would never
        scale.

        Per query, the probe cells are computed IN-PLAN (literal-centroid
        distances → array_sort of (dist, cell) structs → first ``n_probe``),
        the (query, cell) explode joins the cell-partitioned store on
        ``_cell``, and one window keeps the top ``k`` per query. With the
        query side broadcast (it is, explicitly), Spark's dynamic partition
        pruning can skip unprobed cell directories — the batch analogue of
        the literal ``_cell IN (...)`` pruning of :meth:`probe`. Work scales
        as queries × (n_probe/n_centroids · corpus), the same per-query cost
        as single probes, amortized into one shuffle-free scan + one window.

        Output: (query_id, rank 1..k, vec_id, cosine).
        """
        base = queries.select(
            F.col(query_id_col).alias("_qid"), F.col(query_vec_col).alias("_qv")
        )
        dist_cells = F.array(
            *[
                F.struct(
                    l2sq_to_literal(F.col("_qv"), c).alias("d"), F.lit(i).alias("cell")
                )
                for i, c in enumerate(self.centroids)
            ]
        )
        probed = F.transform(
            F.slice(F.array_sort(dist_cells), 1, n_probe), lambda s: s["cell"]
        )
        q_cells = base.withColumn("_cell", F.explode(probed))
        sim = cosine_sim(F.col(self.vec_col), F.col("_qv"))
        if round_digits is not None:
            sim = F.round(sim, round_digits)
        scored = self.assigned.join(F.broadcast(q_cells), "_cell").select(
            F.col("_qid"), F.col(self.id_col), sim.alias("cosine")
        )
        w = Window.partitionBy("_qid").orderBy(
            F.col("cosine").desc(), F.col(self.id_col).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                F.col("_qid").alias(query_id_col),
                "rank",
                self.id_col,
                "cosine",
            )
        )

    def probe(
        self,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 4,
        round_digits: int | None = 6,
        where: Column | None = None,
    ) -> DataFrame:
        """Approximate top-k: scan only the ``n_probe`` cells nearest the query.

        Cell selection is a driver-side argmin over the centroid matrix; the
        DataFrame plan filters on the ``_cell`` partition column, so Spark
        prunes non-probed partitions at the file listing — the scan touches
        ~n_probe/n_centroids of the corpus. Probing all cells == exact search.

        ``where`` is the FILTERED-ANN path (top-k within a metadata
        predicate): the store carries the corpus' payload columns, so the
        predicate is a plain pushed-down filter inside the already-pruned
        scan — no post-hoc re-query. The recall caveat of filtered ANN
        applies: a selective predicate thins each probed cell, so callers
        should raise ``n_probe`` roughly in proportion to 1/selectivity (the
        same trade documented for filtered IVF in FAISS/Milvus).
        """
        cells = self._probe_cells(query_vec, n_probe)
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])
        sim = cosine_sim(F.col(self.vec_col), qcol)
        if round_digits is not None:
            sim = F.round(sim, round_digits)
        store = self.assigned.filter(F.col("_cell").isin(cells))
        if where is not None:
            store = store.filter(where)
        return (
            store.select(F.col(self.id_col), sim.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(self.id_col).asc())
            .limit(k)
        )


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    quantize: bool = False,
    sample_seed: str = "ivf",
    pq: bool = False,
    pq_m: int = 8,
    pq_k: int = 16,
    pq_seed: str = "pq",
) -> IVFIndex:
    """Build and persist an IVF index: pick the coarse centroids, assign every
    vector a ``_cell``, and write the corpus to ``path`` physically partitioned
    by cell (the offline half of :class:`IVFIndex`). Centroids are stored next
    to the data (``_ivf_centroids.json``) so :func:`load_ivf_index` can reopen
    the index without refitting.

    Centroids come from :func:`sample_centroids` — deterministic,
    engine-portable, assignment is a pure Catalyst projection, and the whole
    build+probe is replayable by a SQL oracle.

    With ``quantize=True`` the store also carries the int8 copy (``q`` +
    ``scale``, FAISS-SQ8 layout from :mod:`.embedding`) enabling
    :meth:`IVFIndex.probe_quantized` — 4× narrower probes with exact re-rank."""
    import json
    import os

    # sample_seed governs the md5 ordering; callers replaying the build in
    # SQL must use the same string
    centers = sample_centroids(df, id_col, vec_col, n_centroids, seed=sample_seed)
    assigned = df.select(
        *df.columns, assign_cell(F.col(vec_col), centers).alias("_cell")
    )
    if quantize:
        from iceberg_evolve_spark.functions.embedding import quantize_int8_cols

        # Inline projection — joining quantize_int8's output back onto the
        # corpus shuffled the whole build for columns derivable row-locally.
        qcol, scol = quantize_int8_cols(F.col(vec_col))
        assigned = assigned.withColumn("q", qcol).withColumn("scale", scol)
    pq_sample = None
    if pq:
        # Same md5-ordered sampling as the coarse centroids, under its own
        # seed: one sample defines all pq_m sub-codebooks (pq_subcodebooks),
        # and the encode is a per-slice argmin projection — no model object.
        pq_sample = sample_centroids(df, id_col, vec_col, pq_k, seed=pq_seed)
        assigned = assigned.withColumn(
            "pq_codes", pq_codes_column(F.col(vec_col), pq_sample, pq_m)
        )
    # One file per cell: co-locate each cell's rows before the partitioned
    # write, otherwise every task emits a sliver into every cell directory
    # (tasks × cells small files — the layout a probe then pays to list).
    assigned.repartition("_cell").write.mode("overwrite").partitionBy(
        "_cell"
    ).parquet(path)
    meta = {
        "centroids": [[float(x) for x in c] for c in centers],
        "id_col": id_col,
        "vec_col": vec_col,
    }
    if pq_sample is not None:
        meta["pq_sample"] = [[float(x) for x in v] for v in pq_sample]
        meta["pq_m"] = pq_m
    with open(os.path.join(path, "_ivf_centroids.json"), "w") as f:
        json.dump(meta, f)
    return IVFIndex(
        df.sparkSession, path, centers, id_col, vec_col,
        pq_sample=pq_sample, pq_m=pq_m if pq_sample is not None else None,
    )


def load_ivf_index(spark, path: str) -> IVFIndex:
    """Reopen an index built by :func:`build_ivf_index` (no refit)."""
    import json
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as f:
        meta = json.load(f)
    return IVFIndex(
        spark, path, meta["centroids"], meta["id_col"], meta["vec_col"],
        pq_sample=meta.get("pq_sample"), pq_m=meta.get("pq_m"),
    )


def topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    round_digits: int | None = 6,
    sample_seed: str = "ivf",
) -> DataFrame:
    """One-shot IVF top-k (centroid pick + probe in a single call) for ad-hoc
    use on corpora that are not worth indexing. Anything served repeatedly
    should use :func:`build_ivf_index` once and :meth:`IVFIndex.probe` per
    query — that keeps the full-corpus centroid scan out of the query path."""
    # sample_seed governs the md5 ordering; callers replaying the build in
    # SQL must use the same string
    centers = sample_centroids(df, id_col, vec_col, n_centroids, seed=sample_seed)
    assigned = df.select(
        id_col,
        F.col(vec_col),
        assign_cell(F.col(vec_col), centers).alias("_cell"),
    )

    probe = nearest_cells(query_vec, [list(map(float, c)) for c in centers], n_probe)

    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_sim(F.col(vec_col), qcol)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        assigned.filter(F.col("_cell").isin(probe))
        .select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )
