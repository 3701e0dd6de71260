"""Connected components over a DataFrame edge list — the clustering step of a
near-duplicate-removal pipeline (LSH candidate pairs → components → one kept
representative per component).

Algorithm: iterative min-label propagation. Every node starts labeled with its
own id; each round every node takes the minimum label among itself and its
neighbors; converged when no label changes. Rounds needed = graph diameter —
near-dup graphs are overwhelmingly tiny cliques/chains, so this converges in a
handful of rounds. (For adversarially long-chain graphs at extreme scale the
published upgrade is the large-star/small-star algorithm of Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — same join
primitives, fewer rounds; min-propagation is the right default here.)

Scale notes:

* Each round is one shuffle join on node id + one groupBy — both partition on
  the same key, and AQE coalesces as components collapse.
* ``localCheckpoint`` truncates the lineage each round, otherwise the plan
  doubles per iteration and the driver OOMs planning round ~20.
* Convergence is detected with ``SUM(label)``: labels only ever decrease, so
  the sum is strictly monotone while anything changes — one cheap scalar job
  per round instead of a join-based diff.

The driver-side loop is deliberate: iterative fixpoints are control flow, not
data flow — each *iteration* is pure distributed DataFrame work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Components of the undirected graph given by ``edges``.

    Returns ``(node, component)`` where ``component`` is the minimum node id in
    the node's component. Nodes appearing only as isolated endpoints of no edge
    are not emitted — union the full node set afterwards (see
    ``assign_components``).
    """
    a = F.col(src).alias("u")
    b = F.col(dst).alias("v")
    sym = (
        edges.select(a, b)
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist()
    )
    # Lineage is truncated per round with a LAZY localCheckpoint: the
    # convergence-check aggregate that immediately follows is the action
    # that materializes (and caches) the round's label RDD, so each round
    # costs ONE job instead of an eager checkpoint's count + the aggregate
    # (under AQE the eager variant runs every shuffle stage twice over).
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    ).localCheckpoint(eager=False)
    prev_sum = labels.agg(F.sum("lbl")).first()[0]

    for _ in range(max_iterations):
        nbr = (
            sym.join(labels, sym.u == labels.node)
            .groupBy(F.col("v").alias("node2"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        labels = (
            labels.join(nbr, labels.node == nbr.node2, "left")
            .select("node", F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"))
        )
        # Pointer jumping (path halving): lbl ← label(lbl). Combined with the
        # neighbor-min step this converges in O(log diameter) rounds instead of
        # O(diameter) — the difference between 7 and 10^4 rounds on a long
        # chain. One extra self-join on the same node-id partitioning.
        ptr = labels.select(F.col("node").alias("pnode"), F.col("lbl").alias("plbl"))
        labels = (
            labels.join(ptr, labels.lbl == ptr.pnode, "left")
            .select("node", F.coalesce("plbl", "lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("lbl")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum

    sym.unpersist()
    return labels.select("node", F.col("lbl").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Components via alternating large-star / small-star rounds (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    opt-in for ADVERSARIAL graphs.

    Min-label propagation (:func:`connected_components`) is the right default
    for near-dup graphs (tiny cliques), but its work per round is proportional
    to the full edge list for the whole run. The star algorithm instead
    rewires the graph itself toward stars rooted at component minima:

    * large-star: per node ``u``, hook every LARGER neighbor to
      ``m = min(Γ(u) ∪ {u})``;
    * small-star: per node ``u`` (over edges directed large→small), hook the
      smaller neighbors and ``u`` to ``m``.

    Both are one shuffle on the node id; the edge set provably shrinks toward
    the star form in O(log² n) rounds regardless of diameter, and long chains
    collapse geometrically. Convergence = edge set unchanged (count +
    order-independent hash checksum). Output contract matches
    :func:`connected_components`: ``(node, component-min)`` for every node
    incident to an edge.
    """
    # Materialize the RAW edge selection once: ``all_nodes`` below needs the
    # pre-filter edge set (self-loop-only nodes included), and without this
    # checkpoint the caller's whole edge-mining pipeline (LSH pairs, blocked
    # Levenshtein, …) runs a second time just to list the nodes (r6,
    # measured ~2.4 s of the entity-groups entry at sf0.1).
    raw = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint()
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # sum in decimal: summing 64-bit hashes overflows BIGINT (ANSI)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iterations):
        # --- large-star: key by each endpoint (symmetric view) ---
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m_of = sym.groupBy("u").agg(F.min("v").alias("mv"))
        m_of = m_of.select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        large = (
            sym.join(m_of, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star: direct edges large→small, key by the larger node ---
        d = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m2 = d.groupBy("u").agg(F.min("v").alias("m"))
        hooked = (
            d.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        e = hooked
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur

    # Converged: stars rooted at component minima — (larger node → root).
    members = e.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("component")
    ).distinct()
    # Same output contract as connected_components: every node incident to any
    # input edge appears, including self-loop-only nodes (dropped from the
    # star edge set by the u != v filter) as their own singleton component.
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    return all_nodes.join(members, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**10,
) -> DataFrame:
    """PageRank in exact fixed-point integer arithmetic — the iterative
    link-analysis operator, built so every intermediate is a BIGINT and the
    result is bit-reproducible across engines (no float summation order).

    Ranks are stored scaled by ``scale``; each push divides by the out-degree
    with *integer floor division* and the damping step is
    ``(100-damping_pct)*scale DIV 100 + damping_pct*SUM(contrib) DIV 100`` —
    all exact, so a SQL oracle that unrolls the same ``iterations`` rounds
    reproduces every rank to the last bit.

    Scale shape (per round): one shuffle join of the edge list with the rank
    table on the source key, one map-side-combined SUM keyed by destination,
    one left join back onto the node set — all partition on a node id, so a
    cluster reuses one hash partitioning across the whole loop. At small
    fixed iteration counts the loop runs UNCHECKPOINTED as one nested plan —
    each round references the rank table once, so nesting is linear — and
    one eager ``localCheckpoint`` at the end truncates the lineage handed to
    the caller (under AQE even a lazy per-round checkpoint materializes each
    round's shuffle stages as its own blocking query; skipping them runs the
    whole loop as one AQE query, measured 1.2–1.6× faster at sf0.1).
    Above 8 iterations, where unmaterialized plan nesting would start to
    tax the planner, every round is eagerly checkpointed instead
    (convergence-checked loops like :func:`connected_components` must
    materialize per round — they read a scalar each round, via a lazy
    checkpoint whose convergence aggregate is the materializing action).
    Dangling nodes (no out-edges) keep only
    their teleport mass — document or symmetrize the graph if mass
    conservation matters.

    Overflow headroom: total rank mass ≈ n_nodes × scale and the damping
    multiply adds two decimal digits, so require
    ``n_nodes * scale * 100 < 2^63`` — at the default ``scale=1e10`` that is
    ~9M nodes; shrink ``scale`` for larger graphs (rank resolution degrades
    gracefully).
    """
    # Persist the normalized edge list FIRST: degree, the degree-joined edge
    # table, and the node set all derive from it — without the cache the
    # upstream edge-mining pipeline re-executes once per derivation.
    e0 = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .persist()
    )
    deg = e0.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    e = e0.join(deg, "s").persist()
    nodes = (
        e0.select(F.col("s").alias("node"))
        .union(e0.select(F.col("d").alias("node")))
        .distinct()
        .persist()
    )
    eager_checkpoint = iterations > 8
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("r"))
    if eager_checkpoint:
        ranks = ranks.localCheckpoint()
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e.s == ranks.node)
            .select(F.col("d"), F.expr("r div od").alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("cs"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.d, "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"{damping_pct} * coalesce(cs, 0L) div 100")
            ).alias("r"),
        )
        if eager_checkpoint:
            ranks = ranks.localCheckpoint()
    if not eager_checkpoint:
        # Small fixed iteration counts skip the per-round checkpoints
        # entirely: under AQE even a LAZY localCheckpoint materializes every
        # shuffle stage of the round's plan as its own blocking query (the
        # RDD handle forces getFinalPhysicalPlan), so checkpointing per round
        # executes N sequential multi-job queries. Letting the ~3-round plan
        # nest instead runs the WHOLE loop as one AQE query (measured 1.2–1.6×
        # faster at sf0.1, interleaved A/B), and one eager checkpoint at the end both
        # truncates the lineage handed to the caller and materializes the
        # result BEFORE the unpersists below strip the edge/node caches.
        ranks = ranks.localCheckpoint()
    e0.unpersist()
    e.unpersist()
    nodes.unpersist()
    return ranks


def pagerank_unrolled_sql(
    edges_cte: str,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**10,
) -> str:
    """DuckDB oracle twin of :func:`pagerank`: the same fixed-point rounds
    unrolled as chained CTEs. ``edges_cte`` must be a CTE body producing
    directed columns ``(s, d)`` (self-loops and duplicates are removed here).
    DuckDB's ``SUM(BIGINT)`` returns HUGEINT, so every aggregate is cast back
    to BIGINT before re-entering the integer pipeline."""
    base = (100 - damping_pct) * scale // 100
    # CTE names are pr_-prefixed so they can't capture a table referenced by
    # the caller's edges_cte (an unprefixed "e" would shadow a table named e).
    parts = [
        f"pr_e0 AS (SELECT DISTINCT s, d FROM ({edges_cte}) WHERE s <> d)",
        "pr_deg AS (SELECT s, COUNT(*) AS od FROM pr_e0 GROUP BY s)",
        "pr_e AS (SELECT pr_e0.s, pr_e0.d, pr_deg.od FROM pr_e0 JOIN pr_deg USING (s))",
        "pr_n AS (SELECT s AS node FROM pr_e0 UNION SELECT d AS node FROM pr_e0)",
        f"pr_r0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM pr_n)",
    ]
    for i in range(iterations):
        parts.append(
            f"""pr_r{i + 1} AS (
  SELECT pr_n.node,
         CAST({base} + ({damping_pct} * COALESCE(c.cs, 0)) // 100 AS BIGINT) AS r
  FROM pr_n LEFT JOIN (
    SELECT pr_e.d AS node, CAST(SUM(r.r // pr_e.od) AS BIGINT) AS cs
    FROM pr_e JOIN pr_r{i} r ON pr_e.s = r.node GROUP BY pr_e.d
  ) c USING (node))"""
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, r FROM pr_r{iterations}"


def assign_components(
    df: DataFrame,
    id_col: str,
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    algorithm: str = "minlabel",
) -> DataFrame:
    """Attach a ``cluster_id`` to every row of ``df``: the component minimum
    for nodes touched by an edge, the node's own id for singletons. Also flags
    the canonical representative (the minimum id) — the row a dedup pipeline
    keeps. ``algorithm='star'`` switches to the large-star/small-star variant
    for graphs with adversarially long chains."""
    if algorithm == "minlabel":
        comp = connected_components(edges, src, dst)
    elif algorithm == "star":
        comp = connected_components_star(edges, src, dst)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    joined = df.join(comp, df[id_col] == comp.node, "left")
    return joined.select(
        *[df[c] for c in df.columns],
        F.coalesce(comp.component, df[id_col]).alias("cluster_id"),
    ).withColumn("is_representative", F.col(id_col) == F.col("cluster_id"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) — community
    detection as K deterministic rounds of "adopt the most frequent label
    among yourself and your neighbors", ties to the SMALLEST label.

    Deliberately the *synchronous, fixed-round, deterministically
    tie-broken* variant: classic LPA updates asynchronously in random
    order, which is irreproducible by construction. Here every round is a
    pure function of the previous labeling — argmax by exact integer count
    with a total tie-break — so an unrolled SQL oracle
    (:func:`label_propagation_unrolled_sql`) replays the entire run label
    for label, and the result is independent of partitioning.

    Scale shape per round (same as :func:`pagerank`): one shuffle join of
    the symmetrized edge list with the label table on the source key, one
    map-side-combined (node, label) count, one argmax aggregation — all
    partitioned on a node id, lineage truncated per round with
    ``localCheckpoint`` (lazy up to 8 rounds, eager above). Returns
    (node, label); nodes sharing a label are one community.

    Node ids must be NUMERIC: the tie-break negates the label inside
    ``max(struct(c, -label))``, so string-keyed edge lists fail at
    analysis time (and would diverge from the SQL oracle's
    ``ORDER BY c DESC, label ASC``). Map string keys to dense ids first."""
    for c in (src, dst):
        t = dict(edges.dtypes)[c]
        if not any(
            t.startswith(p)
            for p in ("tinyint", "smallint", "int", "bigint", "long", "decimal", "float", "double")
        ):
            raise TypeError(
                f"label_propagation requires numeric node ids; column {c!r} is {t}"
            )
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .persist()
    )
    eager_checkpoint = rounds > 8
    labels = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=eager_checkpoint)
    )
    for _ in range(rounds):
        nb = e.join(labels, e["s"] == labels["node"]).select(
            e["d"].alias("node"), labels["label"]
        )
        counts = (
            nb.unionByName(labels)
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
            .localCheckpoint(eager=eager_checkpoint)
        )
    if not eager_checkpoint:
        labels.count()  # materialize before releasing the edge cache
    e.unpersist()
    return labels


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    max_rounds: int = 30,
) -> DataFrame:
    """The k-core of the undirected graph: the maximal subgraph where every
    node has degree >= ``k`` WITHIN the subgraph (Seidman 1983) — the graph
    curation primitive for "keep only densely-supported entities" (spam rings,
    citation cores, co-purchase backbones; Batagelj-Zaveršnik peeling).

    Algorithm: iterative peeling — drop every node whose current degree is
    below ``k``, restrict the edge set to survivors, repeat until no node
    drops. Each removal only DECREASES neighbors' degrees, so peeling is
    monotone: the fixpoint is unique and extra rounds past convergence are
    no-ops — which is what lets a fixed-round unrolled SQL oracle
    (:func:`k_core_unrolled_sql`) replay the result exactly as long as its
    round count covers convergence.

    Scale shape per round (the :func:`pagerank` loop discipline): one
    map-side-combined degree count keyed by node + two semi-joins of the edge
    list against the surviving-node set (same node-id partitioning reused all
    loop), lineage truncated per round with ``localCheckpoint``; convergence
    is one cheap scalar (surviving-node count — strictly decreasing while
    anything changes). Rounds needed = the graph's degeneracy ordering depth,
    small for real co-occurrence graphs.

    Returns ``(node, degree)`` — core members with their within-core degree.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_n = None
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    for _ in range(max_rounds):
        keep = deg.filter(F.col("degree") >= k).select("u")
        n = keep.count()
        if n == prev_n:
            break
        prev_n = n
        e = (
            e.join(keep, "u", "semi")
            .join(keep.select(F.col("u").alias("v")), "v", "semi")
            .localCheckpoint()
        )
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    return deg.filter(F.col("degree") >= k).select(
        F.col("u").alias("node"), "degree"
    )


def k_core_unrolled_sql(edges_cte: str, k: int = 3, rounds: int = 8) -> str:
    """DuckDB oracle twin of :func:`k_core`: ``rounds`` peeling rounds
    unrolled as chained CTEs. ``edges_cte`` must produce directed columns
    ``(s, d)``; symmetrization and self-loop/duplicate removal happen here,
    mirroring the Spark side. Peeling is monotone with a unique fixpoint, so
    any ``rounds`` >= the convergence depth reproduces the Spark result
    exactly (callers assert convergence within ``rounds`` in tests).

    Every CTE is ``MATERIALIZED``: each round references the previous edge
    set THREE times (degree count + both semi-join sides), so an inlining
    planner would expand the tree 3^rounds-fold (measured: DuckDB exhausted
    file handles re-opening the base table before the hint)."""
    parts = [
        f"kc_e0 AS MATERIALIZED (SELECT DISTINCT u, v FROM "
        f"(SELECT s AS u, d AS v FROM ({edges_cte}) "
        f"UNION ALL SELECT d AS u, s AS v FROM ({edges_cte})) WHERE u <> v)",
    ]
    prev = "kc_e0"
    for r in range(rounds):
        parts.append(
            f"kc_k{r} AS MATERIALIZED (SELECT u FROM {prev} GROUP BY u "
            f"HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f"kc_e{r + 1} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e "
            f"JOIN kc_k{r} a ON e.u = a.u JOIN kc_k{r} b ON e.v = b.u)"
        )
        prev = f"kc_e{r + 1}"
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM {prev} "
        f"GROUP BY u HAVING COUNT(*) >= {k}"
    )


def label_propagation_unrolled_sql(
    edges_cte: str, rounds: int = 4
) -> str:
    """DuckDB oracle twin of :func:`label_propagation`: the same rounds
    unrolled as chained CTEs. ``edges_cte`` must produce directed columns
    ``(s, d)``; symmetrization, self-loop and duplicate removal happen
    here, mirroring the Spark side."""
    parts = [
        f"lp_e0 AS (SELECT s, d FROM ({edges_cte}) WHERE s <> d)",
        (
            "lp_e AS (SELECT DISTINCT s, d FROM "
            "(SELECT s, d FROM lp_e0 UNION ALL SELECT d AS s, s AS d FROM lp_e0))"
        ),
        "lp_n AS (SELECT DISTINCT s AS node FROM lp_e)",
        "lp_l0 AS (SELECT node, node AS label FROM lp_n)",
    ]
    for r in range(rounds):
        parts.append(
            f"""lp_c{r} AS (
  SELECT node, label, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT lp_e.d AS node, l.label FROM lp_e JOIN lp_l{r} l ON lp_e.s = l.node
    UNION ALL SELECT node, label FROM lp_l{r}
  ) GROUP BY node, label
)"""
        )
        parts.append(
            f"""lp_l{r + 1} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM lp_c{r}
  ) WHERE rn = 1
)"""
        )
    return ",\n".join(parts) + f"\n-- final labels in lp_l{rounds}"
