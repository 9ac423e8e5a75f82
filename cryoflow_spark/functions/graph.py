"""Bounded-graph centrality over edge tables extracted from 100 TB
fact data.

The scale split: EDGE EXTRACTION is the expensive distributed pass (one
x127-style user-partitioned window + a keyed count — see
``events.event_transition_matrix``), while the POWER ITERATION runs on
the extracted |nodes|/|edges| tables, which for the intended graphs
(event-type transition graphs, domain link graphs after
registrable-domain rollup) are bounded by a vocabulary, not by the
corpus. Iterations are therefore cheap DataFrame ops over tiny tables —
but still DataFrames, never a driver collect, so a million-node domain
graph works too (each round is one equi-join + one keyed fold).

Determinism: per-edge contributions are exact per-row IEEE
(``rank · w / out_w``); per-node sums fold in canonical source order
(``collect_list → array_sort → aggregate``, mirrored by DuckDB
``list_reduce(list_prepend(0.0, list(x ORDER BY src)))``) — the
registry's order-independent float-sum pattern — so fixed iteration
counts replicate bit-identically across engines.

Public algorithm: Page, Brin, Motwani, Winograd 1999 ("The PageRank
Citation Ranking"), damping + uniform dangling-mass redistribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cryoflow_spark.core.session import collect_scalar


def _canonical_fold(order_col: str, value_col: str):
    """Aggregate column: sum of ``value_col`` folded in ascending
    ``order_col`` order — order-independent under any partitioning."""
    return F.aggregate(
        F.array_sort(
            F.collect_list(F.struct(F.col(order_col), F.col(value_col)))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x[value_col],
    )


def _dangling_mass(ranks: DataFrame) -> float:
    """One PageRank round's dangling mass — the canonical fold of the
    ranks flagged ``__dang`` — as a bounded driver scalar (one action)."""
    return float(
        collect_scalar(
            ranks.filter(F.col("__dang")).agg(
                F.coalesce(_canonical_fold("node", "rank"), F.lit(0.0))
            )
        )
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """Weighted PageRank with uniform dangling-mass redistribution
    (Page et al. 1999) over an edge table, fixed ``n_iter`` power
    iterations:

        r'(v) = (1-d)/N + d · (Σ_{u→v} r(u)·w(u,v)/W(u) + D/N)

    with ``W(u)`` node ``u``'s total out-weight and ``D`` the summed
    rank of dangling nodes (no out-edges). Nodes are the union of
    sources and destinations; self-loops count like any edge;
    NULL endpoints and non-positive weights are excluded. Ranks sum
    to 1 every iteration (mass-conserving), start uniform.

    Output: ``(node, rank)`` — ``rank`` exact-deterministic (canonical
    fold order, see module docstring), rounded to 9 decimals.

    Scale: see the module docstring — run this on an EXTRACTED edge
    table (event-type transitions, domain links), never raw facts.
    Each iteration is one src-equi-join + one dst-keyed canonical fold;
    incoming-edge fold lists are bounded by in-degree. The edge/node
    tables and each iteration's rank table are ``localCheckpoint``-ed
    (the x20 connected-components pattern): ``ranks`` feeds BOTH the
    contribution join and the dangling scalar, so without lineage
    truncation every round doubles the recomputation of everything
    upstream (2^n_iter re-derivations of the edge extraction —
    measured 37 s → ~2 s at sf0.1). The dangling mass is a bounded
    1-row scalar, collected per round (the one driver action, which
    also materializes the previous round's lazy checkpoint — a lazy
    checkpoint under a per-round BROADCAST is a measured regression,
    because the broadcast executes before the checkpoint materializes
    and re-derives the round pipeline); the loop runs inside a
    ``bounded_iteration`` window sized to the edge count.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.filter(
        F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
    ).select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        w.alias("w"),
    ).filter(F.col("w") > 0)
    # collapse parallel edges (ascending-value fold — order-independent)
    e = e.groupBy("src", "dst").agg(
        F.aggregate(
            F.array_sort(F.collect_list("w")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("w")
    )
    outw = e.groupBy("src").agg(
        _canonical_fold("dst", "w").alias("outw")
    )
    e = e.join(outw, "src").localCheckpoint()
    # Dangling membership is FIXED across rounds (a node with no
    # out-edges never gains one): flag it once at setup so each round's
    # dangling scalar is a filter+fold over the rank table itself — no
    # join and no broadcast inside the loop.
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            e.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("__dang", F.lit(False)),
            "node",
            "left",
        )
        .select("node", F.coalesce("__dang", F.lit(True)).alias("__dang"))
        .localCheckpoint()
    )
    # N and each round's dangling mass are bounded 1-row scalars:
    # COLLECTED and embedded as literals (the Python float ops below are
    # the same IEEE double ops the previous in-plan expressions
    # performed — ranks stay bit-identical), so each round needs exactly
    # ONE driver action, the dangling fold, which doubles as the
    # materializer of the previous round's lazy checkpoint. The
    # broadcast formulation paid three jobs per round (eager-checkpoint
    # count + dangling and 1/N broadcast exchanges); on a
    # vocabulary-bounded graph those job launches were the entire cost
    # (~0.5 s/round at sf0.1 on a 60-node event graph).
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.round(F.lit(0.0), 9).alias("rank"))

    ranks = nodes.select(
        "node", "__dang", F.lit(1.0 / float(n_nodes)).alias("rank")
    )
    d = float(damping)
    base = (1.0 - d) / float(n_nodes)
    # The round loop iterates over the extracted, checkpointed tables —
    # bounded by the graph's vocabulary, not the corpus — so its shuffle
    # width derives from the edge count, not the corpus-scale session
    # default; on a tiny graph AQE is paused so lazy-checkpoint builds
    # launch no jobs (core.session.bounded_iteration).
    from cryoflow_spark.core.session import bounded_iteration

    with bounded_iteration(edges.sparkSession, e.count(), pause_aqe=True):
        for _ in range(int(n_iter)):
            dang = _dangling_mass(ranks)
            contrib = (
                e.join(
                    ranks.select(F.col("node").alias("src"), "rank"), "src"
                )
                .select(
                    "dst",
                    "src",
                    (F.col("rank") * F.col("w") / F.col("outw")).alias("__c"),
                )
                .groupBy("dst")
                .agg(_canonical_fold("src", "__c").alias("__in"))
            )
            ranks = (
                nodes.join(
                    contrib.withColumnRenamed("dst", "node"), "node", "left"
                )
                .select(
                    "node",
                    "__dang",
                    (
                        F.lit(base)
                        + F.lit(d)
                        * (
                            F.coalesce(F.col("__in"), F.lit(0.0))
                            + F.lit(dang / float(n_nodes))
                        )
                    ).alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def personalized_pagerank(
    edges: DataFrame,
    seed_nodes,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6 "personalized"
    teleport; the random-walk-with-restart proximity of Jeh-Widom 2003
    "Scaling Personalized Web Search"): the teleport vector is uniform
    over ``seed_nodes`` instead of all nodes, so rank measures flow
    PROXIMITY TO THE SEEDS —

        r'(v) = (1-d)·p(v) + d · (Σ_{u→v} r(u)·w(u,v)/W(u) + D·p(v))

    with ``p(v) = 1/|seeds present|`` for seed nodes, else 0; dangling
    mass ``D`` restarts at the seeds too; ranks start at ``p`` and sum
    to 1 every iteration. The journey read: "which screens are CLOSE to
    signup by user flow" — the acquisition-funnel neighborhood global
    PageRank averages away. Seeds absent from the graph carry no mass
    (the distribution normalizes over PRESENT seeds; all-absent
    raises).

    Same edge semantics, determinism (canonical source-order folds) and
    per-iteration ``localCheckpoint`` lineage rule as :func:`pagerank`
    (kept as a separate loop so the uniform operator's oracle-pinned
    expression tree stays byte-stable).

    Output: ``(node, rank)`` rounded to 9 decimals.
    """
    seeds = [s for s in dict.fromkeys(seed_nodes)]
    if not seeds:
        raise ValueError("seed_nodes must be non-empty")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.filter(
        F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
    ).select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        w.alias("w"),
    ).filter(F.col("w") > 0)
    e = e.groupBy("src", "dst").agg(
        F.aggregate(
            F.array_sort(F.collect_list("w")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("w")
    )
    outw = e.groupBy("src").agg(
        _canonical_fold("dst", "w").alias("outw")
    )
    e = e.join(outw, "src").localCheckpoint()
    # Dangling flag fixed at setup + per-round dangling scalar collected
    # as the round's ONE driver action — the same shape (and the same
    # bit-identity argument) as :func:`pagerank`.
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            e.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("__dang", F.lit(False)),
            "node",
            "left",
        )
        .select("node", F.coalesce("__dang", F.lit(True)).alias("__dang"))
        .localCheckpoint()
    )
    seed_cap = len(seeds) + 1
    present = (
        nodes.filter(F.col("node").isin(*seeds))
        .limit(seed_cap)
        .collect()
    )
    if not present:
        raise ValueError(
            f"none of the seed nodes {seeds!r} appear in the graph"
        )
    share = 1.0 / len(present)  # Python IEEE divide == SQL 1.0/n
    p = F.when(F.col("node").isin(*seeds), F.lit(share)).otherwise(
        F.lit(0.0)
    )

    ranks = nodes.select("node", "__dang", p.alias("rank"))
    d = float(damping)
    from cryoflow_spark.core.session import bounded_iteration

    with bounded_iteration(edges.sparkSession, e.count(), pause_aqe=True):
        for _ in range(int(n_iter)):
            dang = _dangling_mass(ranks)
            contrib = (
                e.join(
                    ranks.select(F.col("node").alias("src"), "rank"), "src"
                )
                .select(
                    "dst",
                    "src",
                    (F.col("rank") * F.col("w") / F.col("outw")).alias("__c"),
                )
                .groupBy("dst")
                .agg(_canonical_fold("src", "__c").alias("__in"))
            )
            ranks = (
                nodes.join(
                    contrib.withColumnRenamed("dst", "node"), "node", "left"
                )
                .select(
                    "node",
                    "__dang",
                    (
                        F.lit(1.0 - d) * p
                        + F.lit(d)
                        * (
                            F.coalesce(F.col("__in"), F.lit(0.0))
                            + F.lit(dang) * p
                        )
                    ).alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    n_iter: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert, Kumara 2007, "Near linear time algorithm to detect
    community structures in large-scale networks"), fixed ``n_iter``
    rounds: every node starts labeled with itself; each round every
    node adopts the label carrying the max total incident edge weight
    among its neighbors' current labels, ties broken to the SMALLEST
    label (the deterministic variant of the paper's random tiebreak —
    reproducible across runs/engines/partitionings). The graph is
    treated as undirected (edges symmetrized, weights of antiparallel
    and parallel edges summed); self-loops are dropped (a self-vote
    would just echo the node's current label); NULL endpoints and
    non-positive weights are excluded. Isolated nodes keep their own
    label. Fixed iteration counts (not convergence polling) keep the
    output engine-replicable — synchronous LPA can oscillate on
    bipartite structures, and a fixed-round snapshot is deterministic
    either way.

    Output: ``(node, label)`` — nodes sharing a label form a
    community.

    Scale: the module-docstring split — run on an EXTRACTED bounded
    edge table. Each round is one neighbor-label equi-join + one
    (node, label)-keyed canonical-fold vote + one deterministic
    struct-min argmax; per-round state is |nodes| rows. The label
    table feeds two consumers per round (the vote join and the
    keep-old fallback), so each round is ``localCheckpoint``-ed —
    the x161 lineage rule.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    base = (
        edges.filter(
            F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
        )
        .select(
            F.col(src_col).alias("a"),
            F.col(dst_col).alias("b"),
            w.alias("w"),
        )
        .filter((F.col("w") > 0) & (F.col("a") != F.col("b")))
    )
    sym = base.unionByName(
        base.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "w"
        )
    )
    # collapse parallel/antiparallel edges (ascending-value fold)
    e = (
        sym.groupBy("a", "b")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("w")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("w")
        )
        .localCheckpoint()
    )
    nodes = e.select(F.col("a").alias("node")).distinct().localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("label"))
    # Lazy per-round checkpoints: the logical plan truncates at build
    # either way (bounded plans for catalyst), and both per-round
    # consumers (the vote join and the keep-old fallback) reference the
    # SAME checkpoint RDD, so it is computed once whenever the first
    # downstream action runs — on a vocabulary-sized graph inside the
    # bounded_iteration window (AQE paused) that means the whole
    # fixed-round loop executes as one job at the caller's action
    # instead of one eager count job per round.
    from cryoflow_spark.core.session import bounded_iteration

    with bounded_iteration(edges.sparkSession, e.count(), pause_aqe=True):
        for _ in range(int(n_iter)):
            votes = (
                e.join(
                    labels.select(
                        F.col("node").alias("b"), F.col("label")
                    ),
                    "b",
                )
                .groupBy("a", "label")
                .agg(_canonical_fold("b", "w").alias("__wt"))
            )
            winner = votes.groupBy("a").agg(
                F.min(
                    F.struct(
                        (-F.col("__wt")).alias("nw"),
                        F.col("label").alias("lab"),
                    )
                )["lab"].alias("__new")
            )
            labels = (
                labels.join(
                    winner.withColumnRenamed("a", "node"), "node", "left"
                )
                .select(
                    "node",
                    F.coalesce(F.col("__new"), F.col("label")).alias("label"),
                )
                .localCheckpoint(eager=False)
            )
    return labels


def event_type_communities(
    events: DataFrame,
    user_col: str = "user_id",
    event_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    n_iter: int = 4,
) -> DataFrame:
    """Label-propagation communities of event types in the user-journey
    graph — which screens/actions cluster into navigation neighborhoods
    (the unsupervised complement to :func:`event_type_pagerank`'s
    centrality): edges are the x127 real transition counts (no
    start/end markers), symmetrized — A→B and B→A flow both say "these
    two belong together".

    Scale: the edge extraction is the x127 one-window pass over the
    fact table; propagation runs on the |event types|² bounded graph.
    """
    from cryoflow_spark.functions.events import event_transition_matrix

    tm = event_transition_matrix(
        events,
        user_col=user_col,
        event_col=event_col,
        ts_col=ts_col,
        id_col=id_col,
    )
    edges = tm.filter(
        (F.col("src") != F.lit("__start__"))
        & (F.col("dst") != F.lit("__end__"))
    ).select("src", "dst", F.col("n_transitions").alias("w"))
    return label_propagation(edges, weight_col="w", n_iter=n_iter)


def event_type_pagerank(
    events: DataFrame,
    user_col: str = "user_id",
    event_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    damping: float = 0.85,
    n_iter: int = 5,
) -> DataFrame:
    """PageRank centrality of event types in the user-journey graph —
    which screens/actions actually anchor the product's navigation,
    weighted by where users flow rather than raw hit counts (a page
    can be high-traffic but only ever an exit). Edges are the x127
    real transition counts (no start/end markers — PageRank's damping
    term models entry/exit instead).

    Scale: the edge extraction is the x127 one-window pass over the
    fact table; the iteration runs on the |event types|² bounded
    graph.
    """
    from cryoflow_spark.functions.events import event_transition_matrix

    tm = event_transition_matrix(
        events,
        user_col=user_col,
        event_col=event_col,
        ts_col=ts_col,
        id_col=id_col,
    )
    edges = tm.filter(
        (F.col("src") != F.lit("__start__"))
        & (F.col("dst") != F.lit("__end__"))
    ).select("src", "dst", F.col("n_transitions").alias("w"))
    return pagerank(
        edges, weight_col="w", damping=damping, n_iter=n_iter
    )


def triangle_report(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient
    via DEGREE-ORIENTED triangle enumeration (Suri & Vassilvitskii
    WWW 2011, "Counting triangles and the curse of the last reducer";
    clustering coefficient: Watts & Strogatz 1998): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher,
    join a pivot's out-edge pairs against the oriented edge list — each
    triangle is found EXACTLY once, and every node's oriented
    out-degree is O(sqrt(m)), which is the whole point: the natural
    wedge join on raw adjacency dies on the highest-degree hub (the
    "last reducer"), the oriented join never builds a hub's full
    neighborhood. The near-dup read: triadic closure in a candidate
    graph (x182) separates template FAMILIES (dense triangles) from
    chance collisions (open wedges).

    ``edges`` carries one row per undirected edge (self-loops and
    duplicates are dropped, direction normalized). Output: one row per
    node — ``(node, degree, triangles, local_cc)`` with
    ``local_cc = 2·T(v) / (deg(v)·(deg(v)−1))`` rounded to 6 (0.0 for
    degree < 2), ordered by node. Exact integer counts, one final
    per-row divide.

    Scale: degree table is one keyed agg; the orientation is a per-row
    map after two degree joins; the triangle join is
    (pivot-out-edges)², bounded by the oriented out-degree — never a
    hub's square; per-node totals are one union + keyed agg.
    """
    e = (
        edges.select(
            F.col(src_col).alias("__u"), F.col(dst_col).alias("__v")
        )
        .filter(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__a"),
            F.greatest("__u", "__v").alias("__b"),
        )
        .distinct()
    )
    # The edge table feeds MANY consumers (degree union, orientation,
    # wedge pivot, closing probe); without lineage truncation the edge
    # GENERATOR (e.g. the whole winnowing pipeline) re-executes once
    # per branch. Lazy localCheckpoint materializes it exactly once at
    # first action — the graph-loop lineage rule. Measured on x189 at
    # sf0.1: 26.9 s -> ~5 s.
    e = e.localCheckpoint(eager=False)
    deg = (
        e.select(F.col("__a").alias("__n"))
        .union(e.select(F.col("__b").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__d"))
    )
    da = deg.select(
        F.col("__n").alias("__a"), F.col("__d").alias("__da")
    )
    db = deg.select(
        F.col("__n").alias("__b"), F.col("__d").alias("__db")
    )
    # orient low (degree, id) -> high (degree, id)
    oriented = (
        e.join(da, "__a")
        .join(db, "__b")
        .select(
            F.when(
                (F.col("__da") < F.col("__db"))
                | (
                    (F.col("__da") == F.col("__db"))
                    & (F.col("__a") < F.col("__b"))
                ),
                F.struct(F.col("__a").alias("s"), F.col("__b").alias("t")),
            )
            .otherwise(
                F.struct(F.col("__b").alias("s"), F.col("__a").alias("t"))
            )
            .alias("__o")
        )
        .select(F.col("__o.s").alias("__s"), F.col("__o.t").alias("__t"))
    )
    # three consumers (two wedge sides + the closing probe)
    oriented = oriented.localCheckpoint(eager=False)
    w1 = oriented.select(
        F.col("__s").alias("__p"), F.col("__t").alias("__x")
    )
    w2 = oriented.select(
        F.col("__s").alias("__p"), F.col("__t").alias("__y")
    )
    wedges = w1.join(w2, "__p").filter(F.col("__x") < F.col("__y"))
    closing = oriented.select(
        F.least("__s", "__t").alias("__x"),
        F.greatest("__s", "__t").alias("__y"),
    )
    # three consumers (one per triangle role in the per-node union)
    tris = wedges.join(closing, ["__x", "__y"]).select(
        "__p", "__x", "__y"
    ).localCheckpoint(eager=False)
    per_node = (
        tris.select(F.col("__p").alias("__n"))
        .union(tris.select(F.col("__x").alias("__n")))
        .union(tris.select(F.col("__y").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__t"))
    )
    out = deg.join(per_node, "__n", "left").select(
        F.col("__n").alias("node"),
        F.col("__d").alias("degree"),
        F.coalesce(F.col("__t"), F.lit(0)).cast("bigint").alias("triangles"),
        F.round(
            F.when(
                F.col("__d") >= 2,
                2.0
                * F.coalesce(F.col("__t"), F.lit(0)).cast("double")
                / (F.col("__d") * (F.col("__d") - 1)).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("local_cc"),
    )
    return out.orderBy("node")


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, "Assortative
    mixing in networks", eq. 4): the Pearson correlation of the degrees
    at the two ends of every edge — positive = hubs link to hubs
    (social-network shape), negative = hubs link to leaves
    (hub-and-spoke / star shape, what a boilerplate template hub looks
    like in a near-dup candidate graph). Each undirected edge
    contributes BOTH orientations (the standard symmetrization), so::

        r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)

    over the 2m endpoint-degree pairs (x, y), with Σx = Σy by symmetry.

    Output: one row — ``(n_nodes, n_edges, assortativity)`` rounded to
    6 (NULL when degenerate: fewer than 2 edges or zero variance).
    Determinism: all sums are exact integers (degrees are integers);
    the single divide happens once on the final row.

    Scale: degree table one keyed agg, two broadcast-friendly joins to
    decorate edge endpoints, then a 1-row integer aggregate with
    map-side partials.
    """
    e = (
        edges.select(
            F.col(src_col).alias("__u"), F.col(dst_col).alias("__v")
        )
        .filter(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__a"),
            F.greatest("__u", "__v").alias("__b"),
        )
        .distinct()
    )
    # multi-consumer edge table (degree union, decoration, edge count):
    # truncate lineage so the upstream candidate generator runs once
    # (the graph-loop lineage rule; see triangle_report)
    e = e.localCheckpoint(eager=False)
    deg = (
        e.select(F.col("__a").alias("__n"))
        .union(e.select(F.col("__b").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__d"))
    )
    da = deg.select(F.col("__n").alias("__a"), F.col("__d").alias("__da"))
    db = deg.select(F.col("__n").alias("__b"), F.col("__d").alias("__db"))
    # two consumers (both orientations of the endpoint-degree pairs)
    dec = e.join(da, "__a").join(db, "__b").localCheckpoint(eager=False)
    # both orientations: (da, db) and (db, da)
    pairs = dec.select(
        F.col("__da").alias("__x"), F.col("__db").alias("__y")
    ).union(
        dec.select(F.col("__db").alias("__x"), F.col("__da").alias("__y"))
    )
    sums = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("__m2"),
        F.sum("__x").cast("bigint").alias("__sx"),
        F.sum(F.col("__x") * F.col("__y")).cast("bigint").alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("bigint").alias("__sxx"),
    )
    counts = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    ).crossJoin(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
    num = (
        F.col("__m2") * F.col("__sxy") - F.col("__sx") * F.col("__sx")
    ).cast("double")
    den = (
        F.col("__m2") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    ).cast("double")
    return counts.crossJoin(F.broadcast(sums)).select(
        "n_nodes",
        "n_edges",
        F.when(
            (F.col("n_edges") >= 2) & (den != 0.0),
            F.round(num / den, 6),
        ).alias("assortativity"),
    )


def k_core_decomposition(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    n_rounds: "int | None" = None,
    max_rounds: int = 200,
) -> DataFrame:
    """Coreness (k-core number) of every node in an undirected graph
    via the neighborhood h-index fixed point (Lü, Chen, Ren, Zhang,
    Zhou, Stanley PNAS 2016, "The H-index of a network node"): start
    from ``h_0(v) = deg(v)`` and iterate ``h_{t+1}(v) = H({h_t(u) :
    u ∈ N(v)})`` where ``H`` is the h-index (the largest ``h`` such
    that at least ``h`` neighbors have value ≥ ``h``). The sequence is
    monotone non-increasing and its fixed point IS the coreness — the
    same number Batagelj-Zaversnik peeling produces, without the
    sequential min-degree queue. On the x182/x189 candidate graph,
    coreness isolates the dense template/bot FAMILIES (every member of
    a k-core has ≥ k candidate-duplicate partners inside the core)
    that triangle counts only hint at, and is the standard graph-level
    dedup-cluster density gate.

    ``n_rounds`` pins an exact iteration count (the registered query's
    oracle mode: both engines run the same unrolled rounds, so results
    replicate bit-identically by construction even before the fixed
    point); ``n_rounds=None`` (library default) iterates to
    CONVERGENCE — stop when no node's value changes — with a
    ``max_rounds`` safety bound, checking convergence via a bounded
    1-row aggregate per round (the registry's allowed collect class).
    16 rounds converge on every testdata SF; pathological chains need
    O(diameter).

    Output: ``(node, degree, coreness)``, one row per node, ordered by
    node. Self-loops and duplicate/reversed edges are dropped.

    Scale: the edge list symmetrizes once and ``localCheckpoint``s;
    each round is one equi-join (values onto the symmetric edge list)
    + ONE node-keyed aggregation — the h-index folds out of the
    collected neighbor values in-expression
    (``array_max(zip_with(reverse(array_sort(vals)), 1..L, least))``,
    tie order provably irrelevant), exact integers throughout, no
    floats anywhere. That is one shuffle per round where the previous
    window-rank formulation paid an extra exchange + sort (guide §2.4:
    the window partitioned by the OTHER endpoint of the join key).
    Fixed-round mode truncates lineage every few rounds instead of
    every round — each ``localCheckpoint`` plans AND (under AQE)
    executes its stages eagerly at build time, so per-round
    checkpoints made the driver pay 16 separate plan+materialize
    cycles (measured: batching them 6.9 s → 4.5 s at sf0.1);
    convergence mode keeps per-round checkpoints because its count
    probe materializes every round anyway (the x20 rule).
    """
    if n_rounds is not None and n_rounds < 0:
        raise ValueError("n_rounds must be >= 0")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    und = (
        edges.select(
            F.col(src_col).alias("__u"), F.col(dst_col).alias("__v")
        )
        .filter(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__a"),
            F.greatest("__u", "__v").alias("__b"),
        )
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
    ).localCheckpoint(eager=False)
    h = (
        sym.groupBy("__a")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__h"))
        .select(F.col("__a").alias("node"), "__h")
        .localCheckpoint(eager=False)
    )
    deg = h.select("node", F.col("__h").alias("degree"))

    def one_round(cur: DataFrame) -> DataFrame:
        nbr = sym.join(
            cur, sym["__b"] == cur["node"], "inner"
        ).select(
            F.col("__a").alias("__node"), F.col("__h").alias("__val")
        )
        vals = F.reverse(F.array_sort(F.collect_list("__val")))
        h_index = F.array_max(
            F.zip_with(
                vals,
                F.sequence(
                    F.lit(1).cast("bigint"), F.size(vals).cast("bigint")
                ),
                lambda v, i: F.least(v, i),
            )
        )
        return (
            nbr.groupBy("__node")
            .agg(h_index.cast("bigint").alias("__h"))
            .select(F.col("__node").alias("node"), "__h")
        )

    # Lineage-truncation cadence for fixed-round mode: deep enough that
    # catalyst never sees an unbounded plan, sparse enough that the
    # driver does not pay a plan+materialize cycle per round. The loop
    # runs inside a bounded_iteration window (shuffle width derived from
    # the symmetric edge count; AQE paused when the state is tiny, so
    # lazy-checkpoint builds launch no jobs and fixed-round mode
    # executes as one job at the caller's action).
    from cryoflow_spark.core.session import bounded_iteration

    ckpt_every = 8
    with bounded_iteration(edges.sparkSession, sym.count()):
        if n_rounds is not None:
            for i in range(n_rounds):
                h = one_round(h)
                if (i + 1) % ckpt_every == 0 or i == n_rounds - 1:
                    h = h.localCheckpoint(eager=False)
        else:
            for _ in range(max_rounds):
                nxt = one_round(h).localCheckpoint(eager=False)
                changed = (
                    h.join(nxt.withColumnRenamed("__h", "__h2"), "node")
                    .filter(F.col("__h") != F.col("__h2"))
                    .count()
                )
                h = nxt
                if changed == 0:
                    break
    return (
        deg.join(h, "node")
        .select("node", "degree", F.col("__h").alias("coreness"))
        .orderBy("node")
    )


def k_truss_edges(
    edges: DataFrame,
    k: int = 3,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    n_rounds: "int | None" = None,
    max_rounds: int = 50,
) -> DataFrame:
    """The ``k``-truss of an undirected graph (Cohen 2008, "Trusses:
    cohesive subgraphs for social network analysis"): the maximal
    subgraph in which EVERY edge participates in at least ``k-2``
    triangles — the edge-level sharpening of the node-level k-core
    (every k-truss is inside the (k-1)-core but prunes much harder:
    a star hub survives any core cut yet carries zero triangles). On
    the dedup candidate graph this separates genuine template FAMILIES
    (mutually-supporting triangles) from chains of chance collisions
    that k-core keeps.

    Iterative support peeling: compute each surviving edge's triangle
    support with the degree-oriented enumeration (the x189
    last-reducer-safe join), drop edges with support < ``k-2``, repeat
    until stable. ``n_rounds`` pins an exact round count (the
    registered query's oracle mode — both engines run the same
    unrolled rounds, bit-identical by construction); ``None`` (library
    default) iterates to convergence with a bounded 1-row count probe
    per round and ``localCheckpoint`` lineage truncation (the x20
    rule).

    Output: the surviving edge list ``(a, b, support)`` with
    ``a < b`` and ``support`` the triangle count INSIDE the truss,
    ordered ``(a, b)``. Self-loops/duplicate/reversed input edges are
    dropped.

    Scale: each round = one degree agg + orientation joins + the
    oriented wedge join (every pivot's out-degree O(sqrt m) — never a
    hub's full neighborhood) + one edge-keyed support agg + an
    anti-join removal; rounds are bounded by the peel depth (small for
    candidate graphs; the k=3 truss usually stabilizes in a few).
    """
    if k < 3:
        raise ValueError("k must be >= 3")
    if n_rounds is not None and n_rounds < 0:
        raise ValueError("n_rounds must be >= 0")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    cur = (
        edges.select(
            F.col(src_col).alias("__u"), F.col(dst_col).alias("__v")
        )
        .filter(F.col("__u") != F.col("__v"))
        .select(
            F.least("__u", "__v").alias("__a"),
            F.greatest("__u", "__v").alias("__b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def edge_support(e: DataFrame) -> DataFrame:
        """(a, b, support) for every edge of e (support may be 0)."""
        deg = (
            e.select(F.col("__a").alias("__n"))
            .unionByName(e.select(F.col("__b").alias("__n")))
            .groupBy("__n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__d"))
        )
        da = deg.select(
            F.col("__n").alias("__a"), F.col("__d").alias("__da")
        )
        db = deg.select(
            F.col("__n").alias("__b"), F.col("__d").alias("__db")
        )
        dec = e.join(da, "__a").join(db, "__b")
        lower_first = (F.col("__da") < F.col("__db")) | (
            (F.col("__da") == F.col("__db")) & (F.col("__a") < F.col("__b"))
        )
        oriented = dec.select(
            F.when(lower_first, F.col("__a")).otherwise(F.col("__b")).alias(
                "__s"
            ),
            F.when(lower_first, F.col("__b")).otherwise(F.col("__a")).alias(
                "__t"
            ),
        ).localCheckpoint(eager=False)
        w1 = oriented.select(
            F.col("__s").alias("__p"), F.col("__t").alias("__x")
        )
        w2 = oriented.select(
            F.col("__s").alias("__p"), F.col("__t").alias("__y")
        )
        wedges = w1.join(w2, "__p").filter(F.col("__x") < F.col("__y"))
        closing = oriented.select(
            F.least("__s", "__t").alias("__x"),
            F.greatest("__s", "__t").alias("__y"),
        )
        tri = wedges.join(closing, ["__x", "__y"])
        # each triangle (p, x, y) supports its three edges (canonical a<b)
        e1 = tri.select(
            F.least("__p", "__x").alias("__a"),
            F.greatest("__p", "__x").alias("__b"),
        )
        e2 = tri.select(
            F.least("__p", "__y").alias("__a"),
            F.greatest("__p", "__y").alias("__b"),
        )
        e3 = tri.select(
            F.col("__x").alias("__a"), F.col("__y").alias("__b")
        )
        sup = (
            e1.unionByName(e2)
            .unionByName(e3)
            .groupBy("__a", "__b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__sup"))
        )
        return e.join(sup, ["__a", "__b"], "left").select(
            "__a",
            "__b",
            F.coalesce("__sup", F.lit(0).cast("bigint")).alias("__sup"),
        )

    # One round: sup_t = support(e_{t-1}); e_t = edges with sup_t >=
    # k-2 (carrying sup_t). The oracle unrolls the SAME recurrence, so
    # fixed-round results replicate bit-identically; at convergence
    # e_{t-1} == e_t, so the carried support IS the within-truss count.
    thresh = k - 2
    out = None
    from cryoflow_spark.core.session import bounded_iteration

    if n_rounds is not None:
        with bounded_iteration(edges.sparkSession, cur.count()):
            for _ in range(max(n_rounds, 1)):
                out = (
                    edge_support(cur)
                    .filter(F.col("__sup") >= thresh)
                    .localCheckpoint(eager=False)
                )
                cur = out.select("__a", "__b")
    else:
        # ONE bounded action per round: the previous round's count is
        # carried forward instead of recounting the checkpointed frame
        # (the count would otherwise run twice per round — same value,
        # double the job launches).
        before = cur.count()
        with bounded_iteration(edges.sparkSession, before):
            for _ in range(max_rounds):
                out = (
                    edge_support(cur)
                    .filter(F.col("__sup") >= thresh)
                    .localCheckpoint(eager=False)
                )
                cur = out.select("__a", "__b")
                after = cur.count()
                if after == before:
                    break
                before = after
    return out.select(
        F.col("__a").alias("a"),
        F.col("__b").alias("b"),
        F.col("__sup").alias("support"),
    ).orderBy("a", "b")
