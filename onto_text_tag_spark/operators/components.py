"""Connected components over an edge DataFrame (large-star/small-star).

GraphFrames is not available in this sandbox, so this is the
alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) expressed as DataFrame
joins — the same algorithm GraphFrames uses internally.  Converges in
O(log n) rounds on real graphs; every round is two self-joins + a
groupBy min, each checkpointed to cut lineage.

Scale notes: edges shuffle on node id each round; AQE handles the skew
of super-nodes (a web-scale near-dup cluster can be huge).  The label
table is (node → component-min) — never an adjacency list, so no
collect_set OOM hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _driver_union_find(e: DataFrame, rows: list) -> DataFrame:
    """Min-id union-find over the collected (a, b) edge ``rows`` of
    ``e`` — the small-graph fast path of ``connected_components``.  The
    labels come back as a LocalRelation (``local_df``): a JVM
    ``LocalTableScan``, not a Python-RDD scan on every later action."""
    from pyspark.sql.types import StructField, StructType

    from onto_text_tag_spark.session import local_df

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root so labels match the distributed path
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    node_type = e.schema["a"].dataType  # reused for both columns
    return local_df(
        e.sparkSession,
        [(n, find(n)) for n in parent],
        StructType([
            StructField("node", node_type, False),
            StructField("comp", node_type, False),
        ]),
    )


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected canonical edge list (a<b), self-loops dropped."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    return (
        e.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, component) where component = min node id of the component.

    Implementation: iterated "star contraction" — each round maps every
    node to the minimum id in its closed neighborhood, then rewrites
    edges through those labels; fixpoint when the label sum of changes
    reaches zero.  Equivalent result to large-star/small-star with the
    same O(log n) round behavior on typical graphs.

    Edge sets at or below ``driver_threshold`` rows short-circuit to a
    driver-side union-find instead: each distributed round costs a
    fixed ~1 s of job scheduling + checkpoint + fixpoint-count overhead
    regardless of data size (measured ~6 s for a 55k-edge dup graph),
    while a 1M-edge union-find is milliseconds in CPython.  Same
    adaptive philosophy as Spark's broadcast-join threshold: the
    distributed algorithm is the scale path, the local one removes the
    small-input floor.  Results are identical (min-id labeling).  One
    capped ``collect`` both sizes and fetches the edge list.
    ``driver_threshold=0`` forces the distributed path (tests).
    """
    e = _canon_edges(edges, src, dst).localCheckpoint(eager=True)

    if driver_threshold:
        # one action decides and fetches: more than the threshold rows
        # back means the graph takes the distributed path
        rows = e.limit(driver_threshold + 1).collect()
        if len(rows) <= driver_threshold:
            return _driver_union_find(e, rows)

    # initial labels: every endpoint labels itself
    labels = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iterations):
        # neighborhood minimum: for each node, min(comp) over itself and
        # all neighbors' current labels
        nbr = (
            e.join(labels.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"), "comp")
            .unionByName(
                e.join(labels.withColumnRenamed("node", "b"), "b")
                .select(F.col("a").alias("node"), "comp")
            )
            .unionByName(labels)
        )
        new_labels = (
            nbr.groupBy("node").agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
        # pointer-jumping acceleration: relabel through the label table
        # (comp -> comp's comp) to shortcut chains
        jump = (
            labels.alias("l")
            .join(
                labels.select(
                    F.col("node").alias("comp"),
                    F.col("comp").alias("comp2"),
                ).alias("r"),
                "comp",
                "left",
            )
            .select(
                F.col("node"),
                F.coalesce("comp2", "comp").alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        labels = jump
    return labels.select("node", "comp")


def merge_components(
    base_clusters: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Merge a batch of NEW edges into an existing ``(node, comp)``
    component map, exactly as if connected components had been rerun
    over the union edge set — without touching the base edges.

    The incremental-dedup cluster algebra: because ``comp`` is the min
    node id of its component, contracting every base endpoint of a new
    edge to its component representative preserves connectivity AND
    minima — CC over the contracted (delta-sized) mini graph therefore
    yields the same labels a full CC over base ∪ delta edges would.
    The mini graph's nodes are delta ids, base representatives, and
    previously-singleton base ids; base members of merged components
    are relabeled through their old representative.

    Cost: two narrow joins of the (delta-sized) edge batch against the
    (duplicate-sized, ≪ corpus) cluster map, CC over the mini graph,
    one remap join of the map — the base corpus and base edge history
    are never read.

    Equality with CC over the union edge set is pinned by tests and
    oracle-checked by the ``dedup_clusters_incremental`` driver query.
    """
    m_src = base_clusters.select(
        F.col("node").alias(src), F.col("comp").alias("_c_src")
    )
    m_dst = base_clusters.select(
        F.col("node").alias(dst), F.col("comp").alias("_c_dst")
    )
    contracted = (
        new_edges.select(src, dst)
        .join(m_src, src, "left")
        .join(m_dst, dst, "left")
        .select(
            F.coalesce("_c_src", F.col(src)).alias("src"),
            F.coalesce("_c_dst", F.col(dst)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    mini = connected_components(contracted)
    remap = mini.select(
        F.col("node").alias("comp"), F.col("comp").alias("_newcomp")
    )
    updated = base_clusters.join(remap, "comp", "left").select(
        "node", F.coalesce("_newcomp", F.col("comp")).alias("comp")
    )
    extra = mini.join(
        base_clusters.select("node"), "node", "left_anti"
    ).select("node", "comp")
    return updated.unionByName(extra)


def canonicalize_surfaces(
    surfaces: DataFrame,
    surface_col: str = "surface",
    num_hashes: int = 12,
    bands: int = 6,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """F4 canonicalization: merge surface-form variants into clusters.

    MinHash-LSH blocking over character shingles → exact Jaccard verify →
    connected components → (surface, canonical) map where canonical is
    the lexicographically-smallest member.  north_star: "MinHash-LSH
    blocking plus connected-components union".
    """
    from onto_text_tag_spark.operators.dedup import (
        lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )

    uniq = surfaces.select(F.col(surface_col).alias("surface")).distinct()
    ids = uniq.withColumn("doc_id", F.col("surface"))
    cands = lsh_candidate_pairs(
        ids, id_col="doc_id", text_col="surface",
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        max_bucket_size=1000,
    )
    verified = ngram_jaccard_pairs(
        ids, cands, id_col="doc_id", text_col="surface",
        shingle_k=shingle_k, threshold=jaccard_threshold,
    )
    comp = connected_components(verified, src="id_a", dst="id_b")
    return (
        uniq.join(
            comp.withColumnRenamed("node", "surface"), "surface", "left"
        )
        .select(
            "surface",
            F.coalesce("comp", F.col("surface")).alias("canonical"),
        )
    )
