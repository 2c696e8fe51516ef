"""Transitive clustering: connected components on DataFrames (SURVEY.md M9/M10).

The reference clusters scored pairs inside dedupe 3.0.3's ``partition()``
(connected components + hierarchical refinement; call site
/root/reference/backend/dedupe_script.py:360) — driver-memory-bound and, per
SURVEY.md §2.7, broken into 1,000-row chunks that clusters can't span. Here
clustering is **global** and distributed: the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014) expressed as DataFrame joins/aggregations, converging in
O(log n) rounds, with ``localCheckpoint()`` per round to truncate lineage
(on a cluster this would be an Iceberg/parquet checkpoint — see
pipeline.Stage).

Node ids are strings (urls); the component label is the lexicographic
min-id, so labels are deterministic and stable across runs/partitionings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    e = edges.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).where(
        F.col("u") != F.col("v")
    )


def _large_star(e_sym: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u."""
    mins = e_sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        e_sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("id1"), F.col("m").alias("id2"))
        .where(F.col("id1") != F.col("id2"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small; for each u: m = min smaller-neighbor;
    emit (v, m) for v ∈ Γ⁻(u) ∪ {u}."""
    e = edges.select(
        F.greatest("id1", "id2").alias("u"), F.least("id1", "id2").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    neigh = e.join(mins, "u").select(F.col("v").alias("id1"), F.col("m").alias("id2"))
    selfe = mins.select(F.col("u").alias("id1"), F.col("m").alias("id2"))
    return (
        neigh.union(selfe).where(F.col("id1") != F.col("id2")).distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(id1, id2))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(edge_rows: list, spark) -> DataFrame:
    """Small-graph fast path: classic union-find on the driver.

    Mirrors Spark's own broadcast-join threshold philosophy: below a size
    cutoff the fixed cost of ~2 jobs/iteration dwarfs the work, so collect
    and solve in-memory; the distributed path takes over above it. Labels
    are identical (min node id per component) by construction.
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by label order keeps min-id as root
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    labels = pd.DataFrame(
        [(node, find(node)) for node in parent], columns=["record_id", "cluster_id"]
    )
    # pandas-built (Arrow): a Python list would pickle its rows through a
    # Python RDD task and start a second pool of Python workers
    return spark.createDataFrame(labels, "record_id string, cluster_id string")


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint: bool = True,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """edges(id1, id2) -> assignments(record_id, cluster_id).

    cluster_id = min node id of the component. Only nodes that appear in an
    edge are returned (singletons are the caller's records ∖ assignments —
    the reference likewise drops size-1 groups, dedupe_script.py:364).

    Edge sets up to ``driver_threshold`` rows take the driver union-find
    fast path (tested equivalent to the distributed algorithm; pass 0 to
    force distributed). Beyond it: alternating large-star/small-star.
    """
    e = edges.select("id1", "id2").where(F.col("id1") != F.col("id2")).distinct()
    if checkpoint:
        # materialize the (possibly expensive) upstream pipeline exactly
        # once: the driver-threshold probe below and iteration 1 both read
        # this checkpoint instead of recomputing blocking+scoring upstream
        e = e.localCheckpoint(eager=True)
    if driver_threshold:
        head = e.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            return _driver_union_find([(r["id1"], r["id2"]) for r in head], e.sparkSession)
    prev = None
    for _ in range(max_iter):
        e = _large_star(_symmetrize(e))
        e = _small_star(e)
        if checkpoint:
            e = e.localCheckpoint(eager=True)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} iters")
    # Converged star graph: every edge is (node, root). Add roots themselves.
    nodes = e.select(F.col("id1").alias("record_id"), F.col("id2").alias("cluster_id"))
    roots = e.select(F.col("id2").alias("record_id"), F.col("id2").alias("cluster_id")).distinct()
    return nodes.union(roots).distinct()


def refine_components(
    assignments: DataFrame,
    scored_edges: DataFrame,
    threshold: float,
    max_component: int = 2000,
) -> DataFrame:
    """M9 optional refinement (SURVEY.md §2.6): within each connected
    component, average-linkage agglomerative clustering over pairwise
    distances (1 - score; unscored pairs = distance 1.0), cut at cophenetic
    distance ``1 - threshold`` — splitting chained-together components the
    way the reference's hierarchical step does.

    Grouped-map ``applyInPandas``: one pandas batch per component; the
    agglomeration itself is the vectorized numpy kernel in
    functions/linkage.py (one flat argmin per merge — a 2,000-node
    component refines in seconds). Components larger than
    ``max_component`` pass through unsplit (quadratic refinement on a
    mega-component is the wrong tool — fix blocking instead). Sub-cluster
    labels stay deterministic: min member id.

    ``scored_edges`` may contain any pair set (e.g. all scored candidates,
    including sub-threshold ones — their distance refines the linkage);
    edges whose endpoints lie in different components are dropped here, so
    a cross-component edge can never leak a foreign id into a group.
    """
    import pandas as pd

    from ..functions.linkage import agglomerate

    cut = 1.0 - threshold
    comp1 = assignments.select(
        F.col("record_id").alias("id1"), F.col("cluster_id").alias("component")
    )
    comp2 = assignments.select(
        F.col("record_id").alias("id2"), F.col("cluster_id").alias("_c2")
    )
    edges = (
        scored_edges.join(comp1, "id1")
        .join(comp2, "id2")
        .where(F.col("component") == F.col("_c2"))
        .drop("_c2")
    )
    members = assignments.select(
        "record_id", F.col("cluster_id").alias("component")
    )
    # one relation carrying both member rows (id2 null) and edge rows
    unioned = members.select(
        "component",
        F.col("record_id").alias("id1"),
        F.lit(None).cast("string").alias("id2"),
        F.lit(None).cast("double").alias("score"),
    ).unionByName(edges.select("component", "id1", "id2", "score"))

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        comp = pdf["component"].iloc[0]
        ids = sorted(
            set(pdf["id1"]).union(pdf.loc[pdf["id2"].notna(), "id2"])
        )
        n = len(ids)
        if n > max_component or n < 3:
            return pd.DataFrame(
                {"record_id": ids, "cluster_id": [comp] * n}
            )
        ix = {u: i for i, u in enumerate(ids)}
        e = pdf[pdf["id2"].notna()]
        triples = [
            (ix[u], ix[v], 1.0 - float(s))
            for u, v, s in zip(e["id1"], e["id2"], e["score"])
        ]
        labels = agglomerate(n, triples, cut)
        return pd.DataFrame(
            {"record_id": ids, "cluster_id": [ids[l] for l in labels]}
        )

    return unioned.groupBy("component").applyInPandas(
        refine, "record_id string, cluster_id string"
    )


def member_confidence(
    assignments: DataFrame, scored_edges: DataFrame
) -> DataFrame:
    """Per-record confidence (reference M10, dedupe_script.py:368-372):
    1 - RMS(1 - score) over the member's incident within-cluster edges.

    Returns (record_id, cluster_id, confidence).
    """
    incident = scored_edges.select(
        F.col("id1").alias("record_id"), F.col("score")
    ).union(scored_edges.select(F.col("id2").alias("record_id"), F.col("score")))
    conf = incident.groupBy("record_id").agg(
        (1.0 - F.sqrt(F.avg(F.pow(1.0 - F.col("score"), 2)))).alias("confidence")
    )
    return assignments.join(conf, "record_id", "left").fillna(
        {"confidence": 0.0}
    )


def fold_merge_hints(
    assignments: DataFrame, merge_hints: DataFrame
) -> DataFrame:
    """The next-batch recluster that :func:`incremental_assign` defers:
    apply accumulated ``merge_hints (cluster_a, cluster_b, ...)`` to the
    standing ``assignments (record_id, cluster_id)`` table.

    CC runs over the CLUSTER graph (nodes = cluster labels, edges = hints)
    — typically orders of magnitude smaller than the record graph, which
    is the whole point of deferring: the per-batch path stays one join +
    one window, and the transitive step costs |clusters| not |records|.
    Labels follow the min-id convention, so a record whose cluster merges
    gets the merged component's smallest cluster label; untouched clusters
    keep their label. Idempotent: folding the same hints twice is a no-op.
    """
    edges = merge_hints.select(
        F.col("cluster_a").alias("id1"), F.col("cluster_b").alias("id2")
    )
    remap = connected_components(edges).select(
        F.col("record_id").alias("cluster_id"),
        F.col("cluster_id").alias("_merged"),
    )
    return assignments.join(remap, "cluster_id", "left").select(
        "record_id",
        F.coalesce("_merged", "cluster_id").alias("cluster_id"),
    )


def incremental_assign(
    new_edges: DataFrame,
    assignments: DataFrame,
    new_ids: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Assign NEW records to EXISTING clusters without re-running CC.

    The incremental companion of :func:`connected_components` for the
    streaming-ingest + periodic-batch-recluster deployment (see
    streaming/incremental.py): a micro-batch's verified match edges
    ``new_edges (id_new, id_existing, score)`` against the standing
    ``assignments (record_id, cluster_id)`` table. Each new record joins
    the cluster of its best-scoring existing match (ties broken by
    cluster_id for determinism); new records with no match become
    singleton clusters labeled by their own id, matching
    connected_components' min-id labeling convention. The matchless set
    is taken from ``new_ids`` when supplied (the full micro-batch id
    list — the only way to see records with no edges at all); when
    ``new_ids`` is None it is derived from ``new_edges`` itself, so a new
    record whose every edge points at an id absent from ``assignments``
    still comes back as a singleton rather than being silently dropped.

    Non-iterative by design: one join + one window argmax, so it runs
    inside a micro-batch at any scale. The global consequences it defers
    are *returned, not dropped*:

    - ``merge_hints (cluster_a, cluster_b, via, score)``: a new record
      matching records in TWO different existing clusters is evidence
      those clusters should merge — exactly the transitive step only the
      next batch recluster may take (cluster_a < cluster_b).

    Returns {"assignments": (record_id, cluster_id),
             "merge_hints": (cluster_a, cluster_b, via, score)}.
    """
    from pyspark.sql import Window

    hit = new_edges.join(
        assignments.select(
            F.col("record_id").alias("id_existing"), "cluster_id"
        ),
        "id_existing",
    )
    w = Window.partitionBy("id_new").orderBy(
        F.col("score").desc(), F.col("cluster_id").asc()
    )
    best = (
        hit.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("id_new").alias("record_id"), "cluster_id")
    )
    id_source = (
        new_ids.select(F.col(new_ids.columns[0]).alias("record_id"))
        if new_ids is not None
        else new_edges.select(F.col("id_new").alias("record_id")).distinct()
    )
    singletons = (
        id_source
        .join(best.select("record_id"), "record_id", "left_anti")
        .select("record_id", F.col("record_id").alias("cluster_id"))
    )
    assigned = best.unionByName(singletons)
    # distinct (cluster_a, cluster_b) pairs a single new record bridges,
    # keeping the strongest bridging score as evidence
    c2 = hit.select(
        "id_new", F.col("cluster_id").alias("_cb"), F.col("score").alias("_sb")
    )
    hints = (
        hit.select(
            "id_new", F.col("cluster_id").alias("_ca"), F.col("score").alias("_sa")
        )
        .join(c2, "id_new")
        .where(F.col("_ca") < F.col("_cb"))
        .groupBy(F.col("_ca").alias("cluster_a"), F.col("_cb").alias("cluster_b"))
        .agg(
            F.min("id_new").alias("via"),
            F.max(F.least("_sa", "_sb")).alias("score"),
        )
    )
    return {"assignments": assigned, "merge_hints": hints}


def pivot_rank(col):
    """Deterministic KwikCluster permutation rank for a string node id:
    md5(id) || id — engine-portable (DuckDB computes the identical hex),
    collision-free (the appended id breaks even md5 ties), and
    effectively uniform, which is what the 3-approximation argument
    needs."""
    return F.concat(F.md5(col), col)


def lex_first_mis(
    e: DataFrame, nodes: DataFrame, max_rounds: int = 10
) -> tuple[DataFrame, DataFrame]:
    """Lexicographically-first maximal independent set of the md5 rank
    permutation over ``nodes`` (column ``id``) with symmetric edges
    ``e`` (columns ``u``, ``v``) — the parallel emulation of any
    sequential rank-order greedy whose acceptance rule is "not adjacent
    to an earlier accepted node": KwikCluster pivots and canopy centers
    are both exactly this set.

    Iterated local-minima rounds (Blelloch et al.): an active node
    whose rank is minimal among its ACTIVE neighbors joins the MIS
    (isolated actives join trivially); MIS nodes and their neighbors
    retire; undecided nodes go another round. Expected O(log n) rounds;
    per round one active-edge equi-join + one groupBy minimum, with
    localCheckpoint lineage cuts. Returns (mis, undecided) — undecided
    is nonempty only if ``max_rounds`` was exhausted (callers decide
    its fate; both gate queries retire undecided nodes as their own
    cluster/canopy, and the SQL twins mirror that).

    Physical shape, measured on a 16M-edge near-clique corpus (93k
    nodes; was 245 s, now ~25 s): the rank is a PURE FUNCTION of the
    node id, so the neighborhood minimum needs NO node-relation join —
    ``min(pivot_rank(v))`` computes directly on the edge list, map-side
    combinable, one small exchange of ≤|active| partials. The invariant
    that makes this valid is that ``e`` holds only ACTIVE-ACTIVE edges:
    maintained by shrinking ``e`` against the surviving active set at
    the end of every round, which is cheap exactly when it matters —
    round 1 retires most of a dense graph, so the shrink joins build on
    a tiny active side (broadcast), and later rounds scan a remnant.
    Node-cardinality relations are the only eager checkpoints; the
    edge-scale relation is checkpointed once per round AFTER shrinking
    (lineage cut at the small end, never a 32M-row string materialize)."""
    active = nodes.select("id").localCheckpoint(eager=True)
    mis: DataFrame | None = None
    for _ in range(max_rounds):
        if active.limit(1).isEmpty():
            break
        # e is active-active by invariant: no join needed for the
        # neighborhood rank minimum
        minnb = e.groupBy("u").agg(
            F.min(pivot_rank(F.col("v"))).alias("mn")
        )
        piv_r = (
            active.join(minnb, active.id == minnb.u, "left")
            .where(
                F.col("u").isNull()
                | (pivot_rank(F.col("id")) < F.col("mn"))
            )
            .select("id")
            .localCheckpoint(eager=True)
        )
        out_r = (
            e.join(piv_r.select(F.col("id").alias("v")), "v")
            .select(F.col("u").alias("id"))
            .distinct()
        )
        mis = piv_r if mis is None else mis.union(piv_r)
        active = (
            active.join(piv_r.union(out_r), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        # restore the invariant for the next round; active is small
        # from round 2 on, so both joins broadcast the build side
        e = (
            e.join(active.select(F.col("id").alias("u")), "u")
            .join(active.select(F.col("id").alias("v")), "v")
            .localCheckpoint(eager=True)
        )
    if mis is None:
        mis = nodes.limit(0).select("id")
    return mis.localCheckpoint(eager=True), active.select("id")


def pivot_clusters(pairs: DataFrame, max_rounds: int = 10) -> DataFrame:
    """Correlation clustering by parallel pivot rounds — KwikCluster
    (Ailon, Charikar, Newman, JACM 2008) with the deterministic md5
    permutation, parallelized via the lexicographically-first MIS
    (``lex_first_mis``).

    The principled alternative to transitive closure for ER clustering:
    connected components glue everything reachable, so one noisy edge
    chains two real entities (the over-merge `cluster_density` triages
    after the fact); KwikCluster instead grows each cluster only one
    hop from its pivot, giving an expected 3-approximation of the
    optimal correlation clustering — no chaining, over-merge bounded by
    construction.

    Two phases, because the sequential greedy's pivot set is exactly
    the lex-first MIS of the rank permutation: (1) the MIS rounds;
    (2) ONE assignment join at the END — each non-pivot joins its
    minimum-rank ADJACENT pivot. Assigning per round would be wrong:
    a later round can mint a pivot with smaller rank than the one that
    retired the node (the sequential order processes that pivot first),
    so membership is only decidable against the final MIS. Tests pin
    parallel == literal sequential greedy on random graphs and the
    gate edges.

    After ``max_rounds`` any still-undecided node retires as a
    singleton (it has no pivot neighbor by construction, so the
    assignment join cannot see it); the SQL twin mirrors the bound.

    pairs: (id1, id2) distinct undirected string-id edges.
    Returns (record_id, cluster_id) for every node appearing in pairs;
    cluster_id = the pivot's node id.
    """
    e = _symmetrize(pairs).localCheckpoint(eager=True)
    nodes = e.select(F.col("u").alias("id")).distinct()
    pivots, undecided = lex_first_mis(e, nodes, max_rounds=max_rounds)
    piv_assign = pivots.select(
        F.col("id").alias("record_id"), F.col("id").alias("cluster_id")
    )
    leftover = undecided.select(
        F.col("id").alias("record_id"), F.col("id").alias("cluster_id")
    )
    # final assignment: min-rank pivot among each non-pivot's neighbors
    # (pivots are pairwise non-adjacent — MIS — so the u side never
    # contains a pivot; undecided leftovers have no pivot neighbor and
    # drop out of the join)
    pv = pivots.select(F.col("id").alias("v"))
    assigned = (
        e.join(pv, "v")
        .groupBy("u")
        .agg(F.min_by("v", pivot_rank(F.col("v"))).alias("cluster_id"))
        .select(F.col("u").alias("record_id"), "cluster_id")
    )
    return (
        piv_assign.union(assigned).union(leftover)
        .select("record_id", "cluster_id")
    )


def canopy_blocks(
    tight: DataFrame,
    loose: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 10,
) -> DataFrame:
    """Canopy clustering (McCallum, Nigam, Ungar, KDD 2000) — the
    cheap-metric OVERLAPPING pre-blocking stage: centers are chosen
    greedily in rank order, a new center must not lie within the TIGHT
    threshold of an earlier center, and every node within the LOOSE
    threshold of a center joins that center's canopy (possibly several
    canopies — overlap is the point: downstream expensive comparison
    runs within canopies and overlap preserves recall across canopy
    borders).

    The greedy center set is exactly the lex-first MIS over the tight
    graph (same argument as KwikCluster pivots), so centers
    parallelize via ``lex_first_mis``; membership is then ONE join of
    the loose edges against the center set. Undecided nodes after
    ``max_rounds`` become centers of their own (they cover at least
    themselves; the SQL twin mirrors this).

    tight/loose: symmetric-closed or (id1, id2) one-sided edge
    relations — symmetrized here; tight ⊆ loose is the caller's
    contract (canopy semantics need it). nodes: (id) — every node gets
    ≥1 canopy; isolated nodes become their own center.
    Returns (canopy_id, member_id): center self-membership plus every
    loose neighbor of the center.
    """
    te = _symmetrize(tight).localCheckpoint(eager=True)
    le = _symmetrize(loose).localCheckpoint(eager=True)
    centers, undecided = lex_first_mis(
        te, nodes.select("id"), max_rounds=max_rounds
    )
    centers = centers.union(undecided.select("id")).localCheckpoint(eager=True)
    self_m = centers.select(
        F.col("id").alias("canopy_id"), F.col("id").alias("member_id")
    )
    near = (
        le.join(centers.select(F.col("id").alias("u")), "u")
        .select(F.col("u").alias("canopy_id"), F.col("v").alias("member_id"))
    )
    return self_m.union(near).distinct()


def sequential_kwikcluster(edge_rows: list) -> dict:
    """Reference sequential KwikCluster over collected (id1, id2) rows
    with the SAME md5 permutation — the ground truth pivot_clusters must
    reproduce exactly (test-support, driver-side, not a pipeline path)."""
    import hashlib

    adj: dict[str, set] = {}
    for a, b in edge_rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rank = {
        v: hashlib.md5(v.encode()).hexdigest() + v for v in adj
    }
    active = set(adj)
    out: dict[str, str] = {}
    for v in sorted(active, key=lambda x: rank[x]):
        if v not in active:
            continue
        out[v] = v
        active.discard(v)
        for w in adj[v]:
            if w in active:
                out[w] = v
                active.discard(w)
    return out
