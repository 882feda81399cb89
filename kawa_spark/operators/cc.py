"""Connected components via alternating large-star / small-star.

The reference resolves relation groups with a sequential, order-dependent
neighbor merge (/root/reference/ontology/ontology_builder.py:139-181);
we replace it with the shuffle-native large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
as BASELINE.json:14 mandates: iterative DataFrame self-joins,
checkpointed per iteration (lineage truncation — without it the plan
grows exponentially), O(log n) rounds.

Node ids are compared lexicographically (sha1 hex mention ids);
the component id is the lexicographic minimum — deterministic under any
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ckpt(df: DataFrame, reliable: bool) -> DataFrame:
    """Lineage-truncating materialization for the iterative loop.

    localCheckpoint blocks die with their executor — at cluster scale
    that turns one node loss into a job failure (round-1 review) — so
    callers with durable state (ERPipeline with an out_dir, which also
    sets the session checkpoint dir) pass ``reliable=True`` for a real
    checkpoint; local benches keep the cheaper localCheckpoint.

    Constraint propagation is disabled while the checkpoint is created:
    Spark snapshots the plan's inferred constraints into the
    checkpoint's ``originConstraints``, and when the caller's edge plan
    contains a nested projection those constraints can reference
    attributes pruned from the output — every later union over the
    checkpoint then dies in constraint rewriting with
    ``NoSuchElementException: key not found: u#N`` (observed on Spark
    4.1 with any subquery-shaped edge input). Snapshotting an empty set
    costs nothing here: the star rounds add no filters the optimizer
    could infer from constraints anyway.
    """
    spark = df.sparkSession
    key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        if reliable:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set(key, prev)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.withColumn("m", F.least("u", "mn")).drop("mn")
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """On edges oriented large->small: connect all small neighbors of u
    (and u itself) to the minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    relinked = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return relinked


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    reliable_checkpoints: bool = False,
) -> DataFrame:
    """edge list -> (node, component). Non-singleton nodes only; callers
    coalesce(component, node) for singletons."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = ckpt(e, reliable_checkpoints)
    # Convergence probe (count + order-free xxhash fold) only every OTHER
    # iteration: each probe is a blocking driver round-trip, and with
    # typical convergence in <=10 star rounds the serial-sync count is
    # what a 1000-executor cluster feels, not the probe's data volume.
    # Worst case this runs one extra (cheap, already-converged) round.
    # The up-front take(1) empty-guard is folded into the first probe.
    prev_sig = None
    for it in range(max_iter):
        e = _small_star(_large_star(e))
        e = ckpt(e, reliable_checkpoints)  # truncate the iterative lineage
        if it % 2 == 0 and it + 1 < max_iter:
            continue
        sig = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        if sig == prev_sig or sig[0] == 0:
            break
        prev_sig = sig
    # converged: every edge points node -> its component minimum
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    )
    return comp.groupBy("node").agg(F.min("component").alias("component"))


def assign_surface_clusters(
    mentions: DataFrame, surfaces: DataFrame, components: DataFrame
) -> DataFrame:
    """Mentions -> cluster_id via their surface form.

    ``surfaces`` is (norm, surface_id = min mention_id of that norm);
    ``components`` is (node=surface_id, component). Every mention of a
    norm inherits the surface's component (or the surface_id itself for
    singleton surfaces). The surfaces table is orders of magnitude
    smaller than the mention stream (distinct forms vs occurrences), so
    this join is the cheap direction; at web scale the surface side is
    still distributed (no broadcast assumed)."""
    surf = (
        surfaces.join(components, surfaces["surface_id"] == components["node"], "left")
        .withColumn("cluster_id", F.coalesce("component", "surface_id"))
        .select("norm", "cluster_id")
    )
    return mentions.join(surf, "norm", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "mention_id")
    )


def _cl_norm(cl: DataFrame, a: str = "u", b: str = "v") -> DataFrame:
    """Orient cannot-link pairs small->large so either edge orientation
    matches a single canonical key."""
    return cl.select(
        F.least(F.col(a), F.col(b)).alias("cl_u"),
        F.greatest(F.col(a), F.col(b)).alias("cl_v"),
    ).distinct()


def constrained_components(
    edges: DataFrame,
    cannot_link: DataFrame,
    src: str = "u",
    dst: str = "v",
    cl_src: str = "u",
    cl_dst: str = "v",
    max_iter: int = 20,
    reliable_checkpoints: bool = False,
) -> DataFrame:
    """Connected components with cannot-link direct edges removed.

    A cannot-link pair (a, b) asserts a and b are distinct entities
    (negative rule / manual adjudication). This drops every DIRECT edge
    matching a constraint before clustering; pairs can still end up
    co-clustered through indirect paths — that residue is what
    :func:`constraint_violations` audits and :func:`repair_components`
    resolves. Scale shape: one broadcast-able anti-join (the constraint
    list is human-curated, i.e. tiny) in front of the unchanged
    large-star/small-star loop."""
    cl = _cl_norm(cannot_link, cl_src, cl_dst)
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    )
    kept = e.join(
        F.broadcast(cl),
        (e["u"] == cl["cl_u"]) & (e["v"] == cl["cl_v"]),
        "left_anti",
    )
    return connected_components(
        kept, src="u", dst="v", max_iter=max_iter,
        reliable_checkpoints=reliable_checkpoints,
    )


def constraint_violations(
    components: DataFrame,
    cannot_link: DataFrame,
    cl_src: str = "u",
    cl_dst: str = "v",
) -> DataFrame:
    """Audit: for every cannot-link pair, both endpoints' components and
    whether they were (transitively) co-clustered anyway. The monitoring
    table you alert on at 10^12 docs — a violated constraint means an
    indirect path over-merged two adjudicated-distinct entities.
    Output: (cl_u, cl_v, comp_u, comp_v, violated). Two joins against
    the components table; singletons fall back to their own id."""
    cl = _cl_norm(cannot_link, cl_src, cl_dst)
    cu = components.select(
        F.col("node").alias("cl_u"), F.col("component").alias("comp_u")
    )
    cv = components.select(
        F.col("node").alias("cl_v"), F.col("component").alias("comp_v")
    )
    return (
        cl.join(cu, "cl_u", "left")
        .join(cv, "cl_v", "left")
        .withColumn("comp_u", F.coalesce("comp_u", "cl_u"))
        .withColumn("comp_v", F.coalesce("comp_v", "cl_v"))
        .withColumn("violated", F.col("comp_u") == F.col("comp_v"))
        .select("cl_u", "cl_v", "comp_u", "comp_v", "violated")
    )


def repair_components(
    edges: DataFrame,
    components: DataFrame,
    cannot_link: DataFrame,
    src: str = "u",
    dst: str = "v",
    score: str | None = None,
) -> DataFrame:
    """Split components that violate cannot-link constraints.

    Greedy constrained agglomeration per violated component: edges are
    replayed in descending score order (ties broken by (u, v)), and a
    union is applied only if the merged group would contain no
    cannot-link pair — the standard greedy repair for negative rules.
    Without a score column every edge scores 1.0 (pure tie-break order:
    deterministic).

    Scale shape: only VIOLATED components are repaired (everything else
    passes through untouched), and post-blocking components are small
    (cluster_hygiene monitors the tail), so the per-component
    ``applyInPandas`` sees bounded groups; the constraint list rides
    along via the same component-keyed shuffle, never the driver.
    Output: (node, component) with repaired sub-components keyed by
    their lexicographic minimum member, disjoint from untouched ones.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    cl = _cl_norm(cannot_link, src, dst)
    viol = (
        constraint_violations(components, cannot_link, src, dst)
        .filter(F.col("violated"))
        .select(F.col("comp_u").alias("component"))
        .distinct()
    )
    bad = components.join(F.broadcast(viol), "component", "inner")
    good = components.join(F.broadcast(viol), "component", "left_anti")

    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
        (F.col(score) if score else F.lit(1.0)).cast("double").alias("w"),
        F.lit("e").alias("kind"),
    )
    cle = cl.select(
        F.col("cl_u").alias("u"), F.col("cl_v").alias("v"),
        F.lit(0.0).alias("w"), F.lit("c").alias("kind"),
    )
    # Route a row into a repair group only when BOTH endpoints sit in
    # the SAME violated component: edges fed here may be the pre-filter
    # list (a dropped cannot-link direct edge can span components) and
    # constraint pairs can straddle components — routing by one endpoint
    # would inject foreign nodes into the group and emit duplicate,
    # conflicting (node, component) rows beside the good-passthrough.
    nc_u = bad.select(F.col("node").alias("u"), F.col("component").alias("comp_u"))
    nc_v = bad.select(F.col("node").alias("v"), F.col("component").alias("comp_v"))
    tagged = (
        e.unionByName(cle)
        .join(nc_u, "u", "inner")
        .join(nc_v, "v", "inner")
        .filter(F.col("comp_u") == F.col("comp_v"))
        .select(F.col("comp_u").alias("component"), "u", "v", "w", "kind")
    )

    out_schema = StructType(
        [StructField("node", StringType()), StructField("component", StringType())]
    )

    def _repair(pdf):
        import pandas as pd

        nodes = set(pdf["u"]) | set(pdf["v"])
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        partners: dict[str, set] = {n: set() for n in nodes}
        members: dict[str, set] = {n: {n} for n in nodes}
        cl_rows = pdf[pdf["kind"] == "c"]
        for a, b in zip(cl_rows["u"], cl_rows["v"]):
            partners[find(a)].add(b)
            partners[find(b)].add(a)
        e_rows = pdf[pdf["kind"] == "e"].sort_values(
            ["w", "u", "v"], ascending=[False, True, True]
        )
        for a, b in zip(e_rows["u"], e_rows["v"]):
            ra, rb = find(a), find(b)
            if ra == rb:
                continue
            if partners[ra] & members[rb] or partners[rb] & members[ra]:
                continue  # merge would co-cluster a cannot-link pair
            # union by size, fold member/partner sets into the winner
            if len(members[ra]) < len(members[rb]):
                ra, rb = rb, ra
            parent[rb] = ra
            members[ra] |= members[rb]
            partners[ra] |= partners[rb]
        comp = pd.Series({n: min(members[find(n)]) for n in sorted(nodes)})
        return pd.DataFrame({"node": comp.index, "component": comp.values})

    repaired = tagged.groupBy("component").applyInPandas(_repair, out_schema)
    return good.select("node", "component").unionByName(repaired)


def component_metrics(
    edges: DataFrame,
    components: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str | None = None,
) -> DataFrame:
    """Per-component graph diagnostics: the hair-ball triage table.

    Transitive closure's failure mode at 10^12 docs is the chain merge:
    a handful of borderline pairwise matches daisy-chain distinct
    entities into one giant low-density cluster. This computes, per
    component, the signals that triage those for repair without
    re-scoring anything: ``n_nodes``, ``n_edges``, ``density``
    (n_edges / C(n_nodes, 2) — a clean entity clusters near 1.0, a
    chain merge near 2/n) and, when ``weight`` names an edge-score
    column, ``min_w`` / ``max_w`` / ``sum_w`` (the weakest edge is the
    chain's breaking point — the edge :func:`repair_components`-style
    greedy splitting would cut first).

    Inputs: ``edges`` one row per undirected pair (the same edge set the
    components were built from, so every edge is intra-component — the
    component is resolved through ``src`` alone); ``components`` the
    (node, component) output of :func:`connected_components`. Float
    weight sums are partition-order-dependent; pass an exact integer
    weight when downstream needs bit-stable aggregates (min/max are
    always order-independent).

    Scale shape: one equi-join edges->components (shuffle on node id),
    two partial aggregations keyed by component, one small
    component-keyed join. A giant component is one reduce key, but
    count/min/max/sum all combine map-side, so the skew cost is one
    hot reducer receiving pre-combined partials, not the raw edge list.
    Singleton components (nodes without edges, possible when the
    components table covers more nodes than the edge set) surface with
    n_edges = 0 and NULL density.
    """
    e = edges.select(
        F.col(src).alias("u"),
        F.col(dst).alias("v"),
        *([F.col(weight).alias("w")] if weight else []),
    )
    ecomp = e.join(
        components.select(F.col("node").alias("u"), "component"), "u"
    )
    eagg = [F.count(F.lit(1)).alias("n_edges")]
    if weight:
        eagg += [
            F.min("w").alias("min_w"),
            F.max("w").alias("max_w"),
            F.sum("w").alias("sum_w"),
        ]
    per_edge = ecomp.groupBy("component").agg(*eagg)
    per_node = components.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    out = per_node.join(per_edge, "component", "left").withColumn(
        "n_edges", F.coalesce("n_edges", F.lit(0))
    )
    return out.withColumn(
        "density",
        F.when(
            F.col("n_nodes") > 1,
            2.0 * F.col("n_edges")
            / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1))),
        ),
    )
