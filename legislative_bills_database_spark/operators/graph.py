"""Distributed PageRank over an edge list.

Companion to connected_components (operators/dedup.py) in the iterative-
graph family: where CC labels near-duplicate clusters, PageRank scores
node centrality — the classic importance prior for corpus curation
(rank-weighted sampling of a link graph, authority scoring of sources).

Scale posture, mirroring the hard-won CC lessons (VERDICT r2):

- weighted edges (dst, 1/out_deg) are computed ONCE, hash-partitioned on
  src, and persisted: the per-iteration join reuses that layout (no edge
  re-shuffle per round — only the small rank frame moves), so each
  iteration is one co-located join + one groupBy(dst) shuffle.
- dangling mass (nodes with no out-edges) enters the plan as a 1-row
  broadcast aggregate instead of a per-iteration driver collect — ONE
  Spark job per iteration (the eager checkpoint), not two.
- ranks are ``localCheckpoint``-ed every iteration: lineage is truncated,
  so plan depth stays O(1) regardless of iteration count (the round-2
  CC lesson — unbounded lineage is a planning-time scale hazard).
- the iteration count is FIXED (power iteration, not convergence-tested)
  so results are deterministic and reproducible across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint_round, release_checkpoint


def _orient_by_degree(und: DataFrame) -> DataFrame:
    """Orient the canonical undirected edge set ``und(a,b)`` low→high by
    total degree rank ``(deg, id)``.

    Every node's out-degree in the oriented graph is then ≤ its count of
    *higher-ranked* neighbors, which is O(√m) on any graph (a node of
    degree d > √m has < √m neighbors of degree ≥ d, since only √m nodes
    can exceed degree √m) — the classic bound that keeps wedge fan-out
    from exploding on power-law hubs, where id-ordering is worst-case
    O(max_degree²) wedges from a single low-id hub.

    Returns (u, v, rv) with rv = struct(deg_v, v), the dst's rank key —
    carried so the wedge join can order a source's out-neighbors without
    re-joining degrees.
    """
    deg = (
        und.select(F.col("a").alias("n"))
        .union(und.select("b"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("db"))
    ranked = und.join(da, "a").join(db, "b")
    ra = F.struct(F.col("da").alias("deg"), F.col("a").alias("id"))
    rb = F.struct(F.col("db").alias("deg"), F.col("b").alias("id"))
    return ranked.select(
        F.when(ra < rb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ra < rb, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ra < rb, rb).otherwise(ra).alias("rv"),
    )


def triangle_count(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Exact triangle count of the undirected graph ``edges``.

    Degree-ordered orientation (round-4 upgrade over id-ordering): each
    undirected edge is oriented from its lower-(degree, id) endpoint to
    the higher, so every triangle appears exactly once as two out-edges
    of its lowest-ranked vertex plus one oriented closing edge — one
    wedge self-join + one closing semi-equi-join, three hash joins total,
    no theta join. Orientation by (deg, id) bounds any node's oriented
    out-degree by O(√m), so wedge fan-out survives power-law hubs where
    plain id-ordering is worst-case O(max_degree²) from one low-id hub
    (the 100×-scale refinement VERDICT r3 called for; equality vs
    id-ordering pinned in tests/test_graph_timeseries.py).

    Returns one row (n_nodes, n_edges, n_triangles).
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # the canonical edge set feeds the degree agg + three joins;
        # materialize it once (an expensive upstream — e.g. a similarity-
        # pair generator — would otherwise run repeatedly; ReusedExchange
        # doesn't cross the differing join keys)
        .localCheckpoint(eager=True)
    )
    # oriented low→high by (deg, id); feeds two wedge legs + the closing
    # semi join, so truncate to one materialization as well
    o = _orient_by_degree(und).localCheckpoint(eager=True)
    e1 = o.select(F.col("u"), F.col("v").alias("v1"), F.col("rv").alias("r1"))
    e2 = o.select(F.col("u"), F.col("v").alias("v2"), F.col("rv").alias("r2"))
    # each unordered out-neighbor pair once: rank(v1) < rank(v2), so the
    # closing edge (if present) is oriented v1→v2 by construction
    wedges = (
        e1.join(e2, "u").filter(F.col("r1") < F.col("r2")).select("v1", "v2")
    )
    # fresh attribute ids for the closing leg (wedges already embeds o
    # twice; a third direct reference would be ambiguous)
    oc = o.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
    closed = wedges.join(
        oc,
        (F.col("v1") == F.col("cu")) & (F.col("v2") == F.col("cv")),
        "left_semi",
    )
    nodes = und.select(F.col("a").alias("n")).union(und.select("b")).distinct()
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    out = stats.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")
    return out


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Rank every node of the directed graph ``edges`` (duplicate edges
    count as parallel edges). Returns (node, rank) with sum(rank) ≈ 1."""
    raw = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    out_deg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # contribution weights are rank-independent: build once, co-locate on
    # the join key, persist — iterations never touch the raw edge list
    edges_w = (
        raw.join(out_deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w"))
        .repartition("src")
        .persist()
    )
    nodes = (
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    base = (1.0 - damping) / n_nodes

    # (node, dangling, rank); dangling marks no-out-edge nodes
    ranks = (
        nodes.join(out_deg, nodes.node == out_deg.src, "left")
        .select(
            "node",
            F.col("out_deg").isNull().alias("dangling"),
            F.lit(1.0 / n_nodes).alias("rank"),
        )
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(n_iter):
            # 1-row aggregate, broadcast-joined into every row: keeps the
            # dangling correction inside the single per-iteration job
            dmass = ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0)
                ).alias("__dmass")
            )
            contribs = (
                edges_w.join(ranks, edges_w.src == ranks.node)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("w")).alias("inflow"))
            )
            ranks = checkpoint_round(
                ranks.select("node", "dangling")
                .join(contribs, F.col("node") == contribs.dst, "left")
                .crossJoin(F.broadcast(dmass))
                .select(
                    "node",
                    "dangling",
                    (
                        F.lit(base)
                        + F.lit(damping) * F.col("__dmass") / F.lit(float(n_nodes))
                        + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                    ).alias("rank"),
                ),
                replaces=ranks,
            )
        return ranks.select("node", "rank")
    finally:
        edges_w.unpersist()


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 7,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """Minimum hop distance from a seed set over the UNDIRECTED graph —
    frontier-expansion BFS, the reachability primitive under "how far is
    every supplier from this customer" / blast-radius / n-degree-of-
    separation queries.

    ``seeds`` is a one-column (node) DataFrame; seed rows appear in the
    output at dist 0 whether or not they touch an edge (matching the
    recursive-CTE oracle's base case). Distances are capped at
    ``max_hops``.

    Scale shape: the symmetrized edge list is built once, hash-
    partitioned on src, and persisted — each round joins only the
    (shrinking) frontier against that layout. The visited check uses
    the BFS level identity ``N(F_d) \\ (F_d ∪ F_{d−1}) = F_{d+1}``
    (every neighbor of a distance-d node sits at distance d−1, d, or
    d+1, and those first two level sets ARE the previous frontiers) —
    so each round anti-joins two BOUNDED frontier frames, never the
    whole accumulated distance table: per-round work is O(frontier
    neighborhood), not O(visited). One eager checkpoint per round keeps
    plan depth O(1); the result assembles once at the end as a union of
    the materialized per-level frontiers, so every level is kept.
    Rounds ≤ min(diameter, max_hops); the convergence probe is the
    frontier's emptiness, O(1) driver rows. True BFS reaches each node
    first at its minimum distance, so no min-aggregation pass is needed.

    ``sym_layout``: optional CALLER-OWNED symmetric adjacency layout
    (see :func:`multi_source_bfs` — same contract); skips the build
    below and the end-of-call unpersist.

    Returns (node, dist) for every node within max_hops of a seed.
    """
    raw = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # DEDUPLICATED up front (r7 reversal of a measured-on-uniform-data
    # negative result): on skew-free graphs parallel edges only
    # multiply the pre-distinct neighbor rows each round and the
    # per-round frontier distinct absorbs it — but the skewed sf1.0
    # bench (BENCH_SF1_SKEW, Zipf hot customer, degree ~9000 with ~60×
    # edge multiplicity) showed the frontier join re-emitting a hot
    # node's duplicate adjacency EVERY round it borders the frontier,
    # degrading closeness 2.6×. BFS ignores multiplicity, so one global
    # distinct bounds any node's adjacency at its distinct degree and
    # the rounds join a strictly smaller layout.
    owns_sym = sym_layout is None
    sym = sym_layout if sym_layout is not None else (
        raw.union(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition("src")
        .persist()
    )
    f0 = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    levels: list[DataFrame] = [f0]
    empty = None  # the round that found no new node
    try:
        # r14 optimization: the emptiness probe rides the eager
        # checkpoint as an observed count (the k_core trick) — one job
        # per round instead of checkpoint + isEmpty probe. Every level
        # is kept (the final union reads them), so no round replaces one.
        prev, cur = None, f0
        for _h in range(1, max_hops + 1):
            nxt = (
                cur.join(sym, cur.node == sym.src)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(cur, "node", "left_anti")
            )
            if prev is not None:
                nxt = nxt.join(prev, "node", "left_anti")
            nxt, seen = checkpoint_round(nxt, F.count(F.lit(1)).alias("n"))
            if seen["n"] == 0:
                empty = nxt
                break
            levels.append(nxt)
            prev, cur = cur, nxt
        release_checkpoint(empty)
        out = levels[0].select(
            "node", F.lit(0).cast("long").alias("dist")
        )
        for d, frame in enumerate(levels[1:], start=1):
            out = out.union(
                frame.select("node", F.lit(d).cast("long").alias("dist"))
            )
        return out
    finally:
        if owns_sym:
            sym.unpersist()


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """Community labels by synchronous label propagation (Raghavan et
    al. 2007) with two determinism fixes: every node votes its OWN
    current label alongside its neighbors' (closed-neighborhood voting —
    plain synchronous LPA oscillates forever on bipartite structure,
    and this graph family's purchase graphs ARE bipartite), and vote
    ties break to the MINIMUM label. Fixed iteration count, so results
    are reproducible across cluster sizes — the community detector next
    to connected_components (which ignores density) and k_core (which
    thresholds it): LPA keeps two dense cliques joined by one bridge in
    SEPARATE communities, where CC merges them.

    Scale shape: the symmetrized edge list is built once, co-partitioned
    on dst (the vote-join key), persisted; each round is one vote join +
    one (node,label) count + one per-node argmax — all partial-
    aggregated, with per-round localCheckpoint + release (the iterative-
    family hygiene). Vote argmax is ``min(struct(-n, label))``: highest
    count, then smallest label, no UDF.

    Returns (node, label); nodes sharing a label share a community.
    """
    raw = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    sym = (
        raw.union(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition("dst")
        .persist()
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)
    try:
        for _ in range(n_iter):
            neighbor_votes = sym.join(
                labels, sym.dst == labels.node
            ).select(F.col("src").alias("node"), "label")
            votes = neighbor_votes.unionByName(labels)  # self-vote
            counts = votes.groupBy("node", "label").agg(
                F.count(F.lit(1)).alias("n")
            )
            labels = checkpoint_round(
                counts.groupBy("node")
                .agg(
                    F.min(
                        F.struct((-F.col("n")).alias("neg"), F.col("label"))
                    ).alias("best")
                )
                .select("node", F.col("best.label").alias("label")),
                replaces=labels,
            )
        return labels
    finally:
        sym.unpersist()


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node keeps
    degree ≥ k — the standard "dense enough to matter" filter before
    community/centrality work (peels leaves, tendrils, and weakly-
    attached spam clusters that PageRank and triangle counts waste
    cycles on).

    Iterative peel: drop all nodes with current degree < k, recompute
    degrees on the induced subgraph, repeat to fixpoint. Each round is
    one degree aggregate + two anti-joins; the edge frame is
    ``localCheckpoint``-ed per round (lineage truncated, previous
    round's blocks released — the CC/PageRank hygiene). Since r10 the
    convergence probe rides the eager checkpoint the loop already runs
    as an ``observe()`` edge-count metric (the k_core_fixed trick,
    VERDICT r9 item #8) — no separate probe job exists. Edge count
    unchanged across a round ⟺ no weak nodes existed: every weak node
    carries ≥ 1 incident edge (nodes exist only via edges), and
    peeling it removes those edges, so the count strictly decreases
    until the fixpoint. (An observation on the WEAK-node subtree
    itself breaks: the two anti-join sides evaluate it twice in one
    action, which an observed metric rejects — the count must sit
    directly above the checkpointed output, evaluated exactly once.)
    Converges in ≤ max_iter rounds or raises; iterations are bounded
    by #nodes in the worst case (a chain peels one end per round);
    max_iter=50 covers any graph whose peel depth is sane and the
    raise names the knob. One deliberate trade (ADVICE r10): an input
    that is ALREADY a k-core pays one redundant round — a no-op
    anti-join + eager checkpoint + degree recomputation — before the
    unchanged edge count proves convergence, because the probe rides
    the post-peel checkpoint instead of a separate pre-peel
    ``weak.isEmpty()`` job. Zero probe jobs per round on every
    non-trivial input is worth one wasted round on the trivial one.

    Returns (node, degree) of surviving nodes with their core degrees.
    """
    edge_count = F.count(F.lit(1)).alias("edges")
    und, seen = checkpoint_round(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        edge_count,
    )
    for _ in range(max_iter):
        deg = (
            und.select(F.col("a").alias("n"))
            .union(und.select("b"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        weak = deg.filter(F.col("degree") < k)
        wa = weak.select(F.col("n").alias("a"))
        wb = weak.select(F.col("n").alias("b"))
        before = seen["edges"]
        und, seen = checkpoint_round(
            und.join(wa, "a", "left_anti").join(wb, "b", "left_anti"),
            edge_count,
            replaces=und,
        )
        if seen["edges"] == before:
            # the round peeled nothing ⟹ no weak nodes remained; the
            # degrees on und ARE the k-core degrees
            return (
                und.select(F.col("a").alias("node"))
                .union(und.select("b"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("degree"))
            )
    raise RuntimeError(
        f"k_core did not reach a fixpoint in {max_iter} rounds (deep peel "
        f"chains — raise max_iter)."
    )


def symmetrized_layout(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Deduplicated symmetric (src, dst) adjacency, hash-partitioned on
    ``src`` and persisted — the layout every level-synchronous frontier
    join probes (persist, NOT localCheckpoint: a LogicalRDD drops
    outputPartitioning, a cached relation keeps it — the r14
    betweenness finding). NOT materialized here; callers that share the
    layout across consumers should run one action (e.g. ``count()``)
    before fan-out, and callers own the ``unpersist``."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("src")
        .persist()
    )


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 6,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """Per-seed minimum hop distances from EVERY seed simultaneously —
    the primitive under sampled closeness centrality, blast-radius
    panels, and landmark-distance embeddings.

    Same frontier-expansion loop as :func:`bfs_hops`, but all |seeds|
    BFS trees grow in one distributed loop — the loop count stays
    bounded by the graph diameter, not diameter × seeds. The level
    identity ``N(F_d) \\ (F_d ∪ F_{d−1}) = F_{d+1}`` holds per seed.

    Skew/scale posture (the r7 hotspot, 2.58× under Zipf before this):
    the frontier is a SEED BITMASK per node — (node, mask: long), one
    bit per seed — not (seed, node) pairs. Every per-round stage is
    then |frontier nodes|-bounded and pure LongType arithmetic inside
    whole-stage codegen: expansion is one join of the distinct frontier
    nodes against the persisted src-partitioned edge layout (a hot
    node's deg(n) fan-out is paid ONCE, not once per seed that reached
    it) followed by a map-side-combining ``bit_or`` aggregate; the
    visited subtraction is ``cmask & ~vmask`` per node — the level
    identity ``N(F_d) \\ (F_d ∪ F_{d−1}) = F_{d+1}`` evaluated for all
    seeds at once in one integer op. (seed, node) rows never exist
    inside the loop; they materialize only in the final broadcast
    mask-explode. Measured vs the (seed, node)-keyed loop it replaces
    (sf1.0, 4 seeds, min-of-2, shared warmed session, loop only):
    uniform 5.1 s → 5.6 s (parity — the small frontier never was the
    cost), Zipf-skewed 20.1 s → 11.8 s (1.7×). The residual
    skew-vs-uniform gap is TOPOLOGY, not a hot-key pathology: the
    skewed graph's hot customers bridge the replica components, so the
    BFS genuinely reaches ~10× more (seed, node) pairs (639 960 vs
    63 996 output rows on the same row-count datasets). A
    collect_set/array_except per-node variant was also measured and
    REJECTED: non-codegen ObjectHashAggregate made it slower than the
    pair loop on BOTH datasets (7.0 s / 21.9 s).

    Seeds are processed in chunks of 62 per pass (bit 63 is the BIGINT
    sign, and 62 keeps the mask portable to engines with checked
    arithmetic) — this operator targets bounded landmark panels
    (sampled closeness, blast-radius probes); all-sources BFS is APSP
    and needs a different algorithm. The panel is collected to the
    driver (bounded by construction) to mint seed ids. A per-round eager
    checkpoint keeps lineage O(1) in rounds; the levels are kept for
    the final union.

    ``sym_layout``: an optional CALLER-OWNED symmetric (src, dst)
    adjacency layout, already deduplicated, src-partitioned and
    persisted (build it with :func:`symmetrized_layout`) — r15: the two
    centrality queries over the purchase graph rebuilt + re-persisted
    the identical 1.17 M-row layout per call (and unpersisted it on
    return), so a per-(app, sf_dir) memo now shares ONE materialization
    per session; the operator then neither builds nor unpersists it.

    Returns (seed, node, dist); each seed appears at dist 0.
    """
    if sym_layout is not None:
        sym = sym_layout
        owns_sym = False
    else:
        # distinct before the loop: see bfs_hops — duplicate adjacency
        # on a hot node re-enters the frontier join every round (2.6×
        # closeness degradation on the Zipf-skewed bench before this).
        # Normalizing to (least, greatest) undirected pairs FIRST halves
        # the distinct's exchange (|E| rows instead of 2|E|) and also
        # merges (a,b)/(b,a) duplicates that per-direction distinct
        # would keep.
        sym = symmetrized_layout(edges, src_col, dst_col)
        owns_sym = True
    spark = edges.sparkSession
    seed_vals = [
        r["seed"]
        for r in seeds.select(F.col(seeds.columns[0]).alias("seed"))
        .distinct()
        .collect()
    ]
    node_type = sym.schema["src"].dataType
    if not seed_vals:  # empty panel → empty result, correct schema
        from pyspark.sql.types import LongType, StructField, StructType

        if owns_sym:
            sym.unpersist()
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("seed", node_type),
                    StructField("node", node_type),
                    StructField("dist", LongType()),
                ]
            ),
        )
    try:
        outs: list[DataFrame] = []
        for lo in range(0, len(seed_vals), 62):
            outs.append(
                _msbfs_mask_chunk(
                    spark, sym, node_type, seed_vals[lo : lo + 62], max_hops
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out
    finally:
        # (safe pre-action: every level inside the chunk loop is an
        # eager checkpoint, so the returned frame reads only checkpoint
        # blocks + the broadcast seed map — never sym)
        if owns_sym:
            sym.unpersist()


def _msbfs_mask_chunk(
    spark,
    sym: DataFrame,
    node_type,
    chunk: list,
    max_hops: int,
) -> DataFrame:
    """One ≤62-seed bitmask BFS pass over the persisted ``sym`` layout
    (see :func:`multi_source_bfs` for the design rationale)."""
    from pyspark.sql.types import LongType, StructField, StructType

    mask_schema = StructType(
        [
            StructField("node", node_type),
            StructField("mask", LongType()),
        ]
    )
    f0 = spark.createDataFrame(
        [(s, 1 << i) for i, s in enumerate(chunk)], mask_schema
    ).localCheckpoint(eager=True)
    levels: list[DataFrame] = [f0]
    empty = None  # the round that reached no new (node, seed)
    # r14 optimization: emptiness probe rides the eager checkpoint as
    # an observed count — one job per round instead of two. Every level
    # is kept for the final union, so no round replaces one.
    prev, cur = None, f0
    for _h in range(1, max_hops + 1):
        cand = (
            cur.join(sym, cur.node == sym.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.bit_or("mask").alias("cmask"))
        )
        vis = cur if prev is None else cur.unionByName(prev)
        vn = vis.groupBy("node").agg(F.bit_or("mask").alias("vmask"))
        nxt, seen = checkpoint_round(
            cand.join(vn, "node", "left")
            .select(
                "node",
                F.col("cmask")
                .bitwiseAND(
                    F.bitwise_not(F.coalesce("vmask", F.lit(0).cast("long")))
                )
                .alias("mask"),
            )
            .filter(F.col("mask") != 0),
            F.count(F.lit(1)).alias("n"),
        )
        if seen["n"] == 0:
            empty = nxt
            break
        levels.append(nxt)
        prev, cur = cur, nxt
    release_checkpoint(empty)
    out = levels[0].select("node", "mask", F.lit(0).cast("long").alias("dist"))
    for d, frame in enumerate(levels[1:], start=1):
        out = out.union(
            frame.select("node", "mask", F.lit(d).cast("long").alias("dist"))
        )
    seed_map = spark.createDataFrame(
        [(s, i) for i, s in enumerate(chunk)],
        StructType(
            [StructField("seed", node_type), StructField("sid", LongType())]
        ),
    )
    # broadcast mask-explode: ≤62-row nested-loop side, codegen filter
    return (
        out.join(
            F.broadcast(seed_map),
            F.call_function("shiftright", F.col("mask"), F.col("sid"))
            .bitwiseAND(F.lit(1))
            == 1,
        )
        .select("seed", "node", "dist")
    )


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    rounds: int = 6,
) -> DataFrame:
    """Hop-bounded single/multi-source shortest path over a DIRECTED
    weighted edge list — exactly ``rounds`` Bellman-Ford relaxation
    sweeps, so the result is "cheapest cost using at most ``rounds``
    edges" (the bounded-blast-radius form that stays affordable on a
    big graph; run more rounds for a larger horizon). Weights must be
    integral (long) so min-costs are exact and engine-portable — the
    DuckDB twin chains the same ``rounds`` min-merge CTE sweeps and the
    value hash certifies every relaxation round.

    Scale shape, same discipline as :func:`bfs_hops` / :func:`pagerank`:
    the edge list is hash-partitioned on ``src`` and persisted once;
    each sweep joins the (bounded) distance frame against that layout,
    merges with a ``groupBy(node).min`` — one co-located join + one
    aggregate shuffle per round, distance frame ``localCheckpoint``-ed
    so lineage depth stays O(1). A fixed round count (not a convergence
    probe) keeps the semantics deterministic and identical to the
    oracle regardless of cluster size or scheduling.

    ``seeds``: one-column node frame. Returns (node, dist) for every
    node reachable within ``rounds`` hops (seeds at dist 0).
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .repartition("src")
        .persist()
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(rounds):
            relaxed = (
                dist.join(e, dist.node == e.src)
                .select(
                    F.col("dst").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"),
                )
            )
            dist = checkpoint_round(
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist")),
                replaces=dist,
            )
        return dist
    finally:
        e.unpersist()


def k_core_fixed(
    edges: DataFrame,
    k: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    with_converged: bool = False,
) -> DataFrame:
    """:func:`k_core` with a FIXED peel-round count — the hash-
    certifiable form (the q_pagerank_exact discipline: fixed sweeps, no
    convergence probe, so a chained-CTE oracle can replay the identical
    computation round for round).

    Peeling is IDEMPOTENT at the fixpoint — a round with no weak nodes
    leaves the edge set unchanged — so running ``rounds`` ≥ the peel
    depth returns exactly the converged k-core, and fewer returns the
    deterministic partial peel; either way both engines agree bit for
    bit. No driver actions in the loop (the convergence probe is what
    costs :func:`k_core` one extra job per round); each round still
    eagerly checkpoints so lineage stays O(1) in ``rounds``.

    Returns (node, degree) on the surviving subgraph — degrees computed
    AFTER the last peel, unfiltered (equals the k-core when converged).

    ``with_converged=True`` appends a constant ``converged`` column
    (1 iff the last round removed no edges, i.e. round N-1's edge count
    equals round N's). That makes a non-converged partial peel
    OBSERVABLE in the driver's hash row instead of silently replaying
    the same partial result on both engine and oracle sides (ADVICE
    r7): at a scale where the peel needs more than ``rounds`` rounds,
    the flag flips to 0 and the certificate says so. Cost: ZERO extra
    jobs — every round's edge count is observed on the eager checkpoint
    the loop already runs, with or without the flag (r8 shipped this as
    two extra count jobs, a 1.53× bench regression; the observed form
    recovers it).
    """
    edge_count = F.count(F.lit(1)).alias("edges")
    und, seen = checkpoint_round(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        edge_count,
    )
    edge_counts = [seen["edges"]]
    for _ in range(rounds):
        deg = (
            und.select(F.col("a").alias("n"))
            .union(und.select("b"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        # r14 optimization (guide §3.1): anti-join on the WEAK set
        # instead of semi-join on the keep set — identical result
        # (every node of und has a degree row, so keep ≡ complement of
        # weak), but weak shrinks to a handful of nodes per round after
        # the first peel, and AQE's runtime stats convert the anti-join
        # to a broadcast automatically; the semi-join's keep side was
        # most of the graph and forced a sort-merge of und every round.
        weak = deg.filter(F.col("degree") < k)
        wa = weak.select(F.col("n").alias("a"))
        wb = weak.select(F.col("n").alias("b"))
        und, seen = checkpoint_round(
            und.join(wa, "a", "left_anti").join(wb, "b", "left_anti"),
            edge_count,
            replaces=und,
        )
        edge_counts.append(seen["edges"])
    out = (
        und.select(F.col("a").alias("n"))
        .union(und.select("b"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .withColumnRenamed("n", "node")
    )
    if with_converged:
        converged = len(edge_counts) < 2 or edge_counts[-1] == edge_counts[-2]
        out = out.withColumn(
            "converged", F.lit(1 if converged else 0).cast("long")
        )
    return out


def betweenness_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
    scale: int = 1_000_000,
    sym_layout: DataFrame | None = None,
) -> DataFrame:
    """Sampled-source Brandes betweenness (Brandes 2001; sampling per
    Riondato & Kornaropoulos) with a FLOOR-QUANTIZED integer dependency
    recurrence, so the whole computation is value-hash-checkable
    against a chained-CTE SQL twin (the q_pagerank_exact discipline:
    floats iterate rows-only, the certified sibling iterates BIGINTs).

    Forward: level-synchronous BFS from all seeds in one (seed, node)
    keyed frame — shortest-path counts fold as sigma(v) = Σ sigma(u)
    over predecessors one level up, exactly the partial-aggregation
    shape Spark's hash aggregate wants, and rounds are bounded by
    graph DIAMETER, not diameter × seeds. Backward: the Brandes
    accumulation delta(v) = Σ_w sigma(v)/sigma(w) · (1 + delta(w)) is
    replaced by its scaled integer floor

        delta_q(v) = Σ_w (sigma(v) · (scale + delta_q(w))) div sigma(w)

    — every term is a BIGINT floor division (identical on nonnegative
    operands in Spark and DuckDB) and every per-node sum is an integer
    sum (cross-row order cannot matter), so the twin matches bit for
    bit while staying within 1/scale per term of real Brandes. In an
    unweighted graph every shortest-path-DAG edge connects consecutive
    BFS levels, so joining level k to level k-1 IS the predecessor
    filter. Each level is eagerly checkpointed (bounded lineage, the
    k_core discipline) and released when its successors are done.

    Depth is FIXED at ``max_depth`` (k-bounded betweenness — standard
    for sampled centrality; the purchase graph's eccentricity is 3 at
    every test SF, so 4 is exhaustive there). Returns (node,
    betweenness_q) for nodes with positive accumulated dependency;
    divide by ``scale`` for the Brandes value.

    ``sym_layout``: optional CALLER-OWNED symmetric adjacency layout
    (see :func:`multi_source_bfs` — same contract; only valid for
    self-loop-free edge lists, where edges ∪ reversed ≡ the normalized
    und ∪ reversed the shared builder produces). r15: without it each
    invocation built AND leaked one persisted 1.17 M-row layout per
    call (ADVICE r14 — no unpersist is possible in-function because
    the returned lazy backward chain still reads sym at the caller's
    first action); the per-(app, sf_dir) memo bounds that to one
    documented session-lifetime layout shared with q_closeness /
    q_harmonic_centrality."""
    if sym_layout is not None:
        sym = sym_layout
    else:
        sym = (
            edges.select("src", "dst")
            .union(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct()
            # r14 optimization (guide §2.4): hash-partition ON THE JOIN
            # KEY once and persist — the un-partitioned checkpoint
            # layout was re-shuffled by every forward level AND every
            # backward level (8 exchanges of the full edge list per
            # invocation; measured 2-4 s per level at sf0.1). persist(),
            # NOT localCheckpoint: a LogicalRDD drops outputPartitioning
            # (verified — the join re-added an Exchange over the scan),
            # while the cached relation keeps it, so per-level joins
            # shuffle only the frontier (the bfs_hops/multi_source_bfs
            # layout discipline).
            .repartition("src")
            .persist()
        )
    lvl: dict[int, DataFrame] = {
        0: seeds.select(
            F.col("seed"),
            F.col("seed").alias("node"),
            F.lit(1).cast("long").alias("sigma"),
        ).localCheckpoint(eager=True)
    }
    # r14 optimization: the visited set is a LAZY union of the (already
    # materialized) level checkpoints instead of its own re-checkpointed
    # union every level — the anti-join reads the same blocks either
    # way, and one eager-checkpoint job per level disappears (forward
    # pass 2 jobs/level → 1).
    visited = lvl[0].select("seed", "node")
    for k in range(1, max_depth + 1):
        cand = (
            lvl[k - 1]
            .join(sym, lvl[k - 1]["node"] == sym["src"])
            .select("seed", F.col("dst").alias("node"), "sigma")
        )
        # every level is kept: the backward pass reads them all
        lvl[k] = checkpoint_round(
            cand.join(visited, ["seed", "node"], "left_anti")
            .groupBy("seed", "node")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )
        visited = visited.unionByName(lvl[k].select("seed", "node"))
    delta: dict[int, DataFrame] = {
        max_depth: lvl[max_depth].withColumn(
            "delta", F.lit(0).cast("long")
        )
    }
    for k in range(max_depth, 0, -1):
        succ = delta[k]
        # join on sym.src (not dst) and project dst as the predecessor:
        # sym is symmetric (edges ∪ reversed, distinct), so the (src→dst)
        # and (dst→src) row sets are identical — this keeps the probe on
        # the src-partitioned checkpoint layout (zero sym re-shuffle).
        contrib = succ.join(sym, succ["node"] == sym["src"]).select(
            "seed",
            F.col("dst").alias("pnode"),
            F.col("sigma").alias("sigma_w"),
            "delta",
        )
        pred = lvl[k - 1].select(
            "seed",
            F.col("node").alias("pnode"),
            F.col("sigma").alias("sigma_v"),
        )
        dsum = (
            contrib.join(pred, ["seed", "pnode"])
            .select(
                "seed",
                "pnode",
                F.expr(
                    f"(sigma_v * ({scale} + delta)) div sigma_w"
                ).alias("t"),
            )
            .groupBy("seed", "pnode")
            .agg(F.sum("t").cast("long").alias("dcontrib"))
        )
        delta[k - 1] = (
            lvl[k - 1]
            .join(
                dsum.withColumnRenamed("pnode", "node"),
                ["seed", "node"],
                "left",
            )
            .select(
                "seed",
                "node",
                "sigma",
                F.coalesce(F.col("dcontrib"), F.lit(0))
                .cast("long")
                .alias("delta"),
            )
            # r14: lazy — the backward chain has no driver decisions,
            # so the final aggregate materializes all levels in ONE job
            # (each level's blocks cached when computed, reused by the
            # level below and by the output union). Plan stays compact:
            # a lazy localCheckpoint is already a LogicalRDD leaf.
            .localCheckpoint(eager=False)
        )
    out = None
    for k in range(1, max_depth + 1):
        part = delta[k].select("node", "delta")
        out = part if out is None else out.unionByName(part)
    return (
        out.groupBy("node")
        .agg(F.sum("delta").cast("long").alias("betweenness_q"))
        .filter(F.col("betweenness_q") > 0)
    )


def sql_betweenness_sampled(
    seeds: list[str], max_depth: int = 4, scale: int = 1_000_000
) -> str:
    """DuckDB chained-CTE twin of :func:`betweenness_sampled` over the
    customer↔supplier purchase graph (seed list and depth baked in as
    literals; one forward CTE + one visited-union CTE per level, then
    one backward CTE per level — the q_pagerank_exact chained-sweep
    idiom, here with integer floor-div dependency terms)."""
    seed_values = ", ".join(f"('{s}')" for s in seeds)
    parts = [
        f"""
    WITH e AS (
      SELECT DISTINCT concat('c', o_custkey) AS src,
                      concat('s', l_suppkey) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), sym AS (
      SELECT src, dst FROM e UNION SELECT dst, src FROM e
    ), f0 AS (
      SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma
      FROM (VALUES {seed_values}) AS seeds(seed)
    ), vis0 AS (
      SELECT seed, node FROM f0
    )"""
    ]
    for k in range(1, max_depth + 1):
        parts.append(
            f""", f{k} AS (
      SELECT p.seed, s.dst AS node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
      FROM f{k - 1} p JOIN sym s ON p.node = s.src
      WHERE NOT EXISTS (SELECT 1 FROM vis{k - 1} v
                        WHERE v.seed = p.seed AND v.node = s.dst)
      GROUP BY 1, 2
    ), vis{k} AS (
      SELECT seed, node FROM vis{k - 1}
      UNION ALL SELECT seed, node FROM f{k}
    )"""
        )
    parts.append(
        f""", d{max_depth} AS (
      SELECT seed, node, sigma, CAST(0 AS BIGINT) AS delta
      FROM f{max_depth}
    )"""
    )
    for k in range(max_depth - 1, 0, -1):
        parts.append(
            f""", d{k} AS (
      SELECT p.seed, p.node, p.sigma,
             CAST(COALESCE(SUM((p.sigma * ({scale} + w.delta)) // w.sigma),
                           0) AS BIGINT) AS delta
      FROM f{k} p
      LEFT JOIN sym s ON p.node = s.src
      LEFT JOIN d{k + 1} w ON w.seed = p.seed AND w.node = s.dst
      GROUP BY 1, 2, 3
    )"""
        )
    unions = "\n      UNION ALL ".join(
        f"SELECT node, delta FROM d{k}" for k in range(1, max_depth + 1)
    )
    parts.append(
        f""", alln AS (
      {unions}
    )
    SELECT node, CAST(SUM(delta) AS BIGINT) AS betweenness_q
    FROM alln GROUP BY 1 HAVING SUM(delta) > 0"""
    )
    return "".join(parts)


def longest_paths_dag(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    rounds: int = 6,
) -> DataFrame:
    """Hop-bounded longest (critical) path over a DIRECTED ACYCLIC
    edge list — the MAX-PLUS twin of :func:`shortest_paths`: exactly
    ``rounds`` relaxation sweeps with a ``groupBy(node).max`` merge, so
    the result is "most expensive chain using at most ``rounds`` edges
    ending at each node" (the earliest-finish / critical-path time of
    DAG scheduling, bounded the way any blast-radius query bounds its
    horizon). On a DAG whose longest path has ≤ ``rounds`` edges this
    IS the exact critical path. Weights must be integral (long) so
    max-costs are exact and engine-portable — the DuckDB twin chains
    the same ``rounds`` max-merge CTE sweeps and the value hash
    certifies every relaxation round.

    Unlike min-plus (where a non-seed node is absent until reached),
    the natural critical-path seeding puts EVERY node at cost 0 — pass
    the full node frame as ``seeds`` — so dist_k(v) = max over all
    ≤k-edge chains ending at v regardless of start.

    Physical shape per sweep, identical to shortest_paths: one join
    against the src-partitioned persisted edge list + one
    groupBy(node).max, distance frame localCheckpoint-ed so plan/
    lineage depth stays O(1). Returns (node, dist).
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .repartition("src")
        .persist()
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(rounds):
            relaxed = dist.join(e, dist.node == e.src).select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            dist = checkpoint_round(
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.max("dist").alias("dist")),
                replaces=dist,
            )
        return dist
    finally:
        e.unpersist()


def boruvka_msf(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    max_rounds: int = 20,
) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka (Borůvka 1926;
    the GPU/Pregel MST algorithm): every component picks its minimum
    incident cross-edge under the STRICT total order (w, src, dst) —
    lexicographic tiebreak makes all edge ranks distinct, so the MSF
    is unique and any correct algorithm (this one, Kruskal, Prim)
    must return the identical edge set — then the selection graph is
    contracted and the loop repeats. Components at least halve per
    round, so ``max_rounds`` = 20 spans components up to ~10⁶ nodes;
    the loop exits early (one bounded 1-long count per round, the
    k_core_fixed precedent) once no cross-component edge remains, so
    unused rounds are free. If the budget IS exhausted with
    cross-component edges still present the forest would be silently
    partial — the certificate vs the Kruskal twin would break with no
    error — so exhaustion raises ``RuntimeError`` (the
    ``connected_components`` non-convergence precedent).

    Contraction reuses :func:`..operators.dedup.connected_components`
    on the COMPONENT-grain selection graph (≤ one edge per component,
    so the contraction input at least halves every round): the
    adaptive driver union-find under its 2M-edge guard at census
    scale, the checkpointed distributed min-label loop above it. A
    hand-rolled pointer-jumping contraction was measured ~2.5×-per-
    iteration SLOWER here despite eager localCheckpoints (Spark 4.1
    re-executes the self-join chain's history inside each checkpoint
    job); the shared operator's observed-metric loop does not
    exhibit the pathology — reuse over re-derivation.

    Per outer round: two label joins over the edge list, one
    min-struct aggregate at component grain, one contraction; label
    and cross frames localCheckpoint-ed and released so plan depth
    stays O(1). Returns the forest edges (src, dst, w). Input edges
    must be canonical (src < dst) and weights integral (long) so
    min-structs are exact and engine-portable.
    """
    from .dedup import connected_components

    # r14 optimization (guide §2.4): the edge frame is FIXED across all
    # rounds and joined on src every round — hash-partition it on src
    # once and persist (persist, not localCheckpoint, preserves the
    # partitioning; the betweenness_sampled lesson), so per-round label
    # joins shuffle only the node-grain label frame.
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .repartition("src")
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    lab = nodes.select(
        "node", F.col("node").alias("comp")
    ).localCheckpoint(eager=True)
    spark = edges.sparkSession
    # r14 optimization (the greedy_maximal_matching restructure): the
    # cross-edge emptiness probe rides the cross checkpoint as an
    # observe() metric; the per-round selection is a LAZY checkpoint
    # materialized by the contraction's own actions; the forest
    # accumulates as a lazy union of the materialized selections
    # (≤ |V|−1 rows total — result-sized) instead of re-checkpointing
    # a growing union every round. ~3 fewer jobs per round.
    picks: list[DataFrame] = []
    converged = False
    cross = None
    try:
        for _ in range(max_rounds):
            cs = lab.select(
                F.col("node").alias("src"), F.col("comp").alias("cs")
            )
            cd = lab.select(
                F.col("node").alias("dst"), F.col("comp").alias("cd")
            )
            cross, seen = checkpoint_round(
                e.join(cs, "src")
                .join(cd, "dst")
                .filter(F.col("cs") != F.col("cd")),
                F.count(F.lit(1)).alias("n"),
            )
            if seen["n"] == 0:
                converged = True
                break
            cand = cross.select(
                F.col("cs").alias("comp"), "w", "src", "dst"
            ).unionByName(
                cross.select(F.col("cd").alias("comp"), "w", "src", "dst")
            )
            sel = (
                cand.groupBy("comp")
                .agg(F.min(F.struct("w", "src", "dst")).alias("e"))
                .select(
                    F.col("e.w").alias("w"),
                    F.col("e.src").alias("src"),
                    F.col("e.dst").alias("dst"),
                )
                .distinct()
                # lazy: materialized by the contraction below (selpairs
                # feeds connected_components, whose first action
                # computes it); blocks held for the final forest union
                .localCheckpoint(eager=False)
            )
            # contract: CC over the component-grain selection graph
            selpairs = sel.join(
                cross.select("src", "dst", "cs", "cd"), ["src", "dst"]
            ).select(
                F.col("cs").alias("id_a"), F.col("cd").alias("id_b")
            )
            comps = lab.select(F.col("comp").alias("c")).distinct()
            roots = connected_components(
                selpairs, comps, id_col="c", label_col="root"
            )
            lab = checkpoint_round(
                lab.join(roots, lab.comp == roots.c, "left")
                .select(
                    "node", F.coalesce("root", "comp").alias("comp")
                ),
                replaces=[lab, cross],
            )
            picks.append(sel)
        if not converged:
            # the final round's contraction may have finished the job;
            # recheck before declaring the forest partial
            cs = lab.select(
                F.col("node").alias("src"), F.col("comp").alias("cs")
            )
            cd = lab.select(
                F.col("node").alias("dst"), F.col("comp").alias("cd")
            )
            remaining = (
                e.join(cs, "src")
                .join(cd, "dst")
                .filter(F.col("cs") != F.col("cd"))
                .limit(1)
                .count()
            )
            if remaining:
                raise RuntimeError(
                    f"boruvka_msf: cross-component edges remain after "
                    f"{max_rounds} rounds — forest would be partial; "
                    f"raise max_rounds"
                )
    finally:
        release_checkpoint(lab)
        if converged:
            release_checkpoint(cross)  # the empty last round
        e.unpersist()
    forest = spark.createDataFrame([], "src long, dst long, w long")
    for sel in picks:
        forest = forest.unionByName(sel)
    return forest


def greedy_maximal_matching(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    max_rounds: int = 60,
) -> DataFrame:
    """Maximal weighted matching via locally-dominant edge selection
    (Preis 1999; Manne-Bisseling) — every round selects the edges that
    are the MINIMUM under the strict total order (w, src, dst) among
    all edges incident to BOTH endpoints (such edges are mutually
    non-adjacent, so the whole set matches at once), removes the
    matched vertices, and repeats until no edges remain.

    The certificate exploits a classical equivalence: the matching
    produced equals EXACTLY the one the SEQUENTIAL greedy algorithm
    builds scanning edges in that total order (an edge is greedy-picked
    iff no earlier edge claimed either endpoint; induction on the
    order shows each locally-dominant round commits precisely the
    greedy picks whose earlier neighbors are already resolved). Two
    different algorithms — log-round parallel vs one-edge-at-a-time
    sequential — meet at the unique answer, the q_boruvka_mst
    discipline. Sequential greedy is also a 1/2-approximation of the
    maximum-weight matching (for minimization over a fixed edge set,
    maximality + the exchange argument).

    Round count: expected O(log |E|) on hash-like weights; the
    adversarial worst case (a path with monotone weights resolves ONE
    edge per round) is bounded by ``max_rounds`` and raises rather
    than returning a silently partial (non-maximal) matching — the
    boruvka_msf interlock. Per round: one node-grain min-struct
    aggregate, two label joins, two anti-joins; edge frame
    localCheckpoint-ed and released per round, O(1) plan depth.
    Returns the matched edges (src, dst, w); weights cast to long so
    min-structs are exact and engine-portable.

    r14 optimization (guide §1.2 "remove passes" applied to driver
    actions): each round is now ONE Spark job instead of five. The
    surviving-edge count rides the round's eager checkpoint as an
    ``observe()`` metric (the k_core trick — kills the
    ``limit(1).count()`` probe job); the per-round pick frame is
    localCheckpoint(eager=False)-ed and materialized as a side effect
    of the same job (its blocks are pinned when the anti-join computes
    it), and the matching accumulates as a LAZY union of those
    materialized pick frames instead of re-checkpointing a growing
    union every round (measured before: 91 jobs at sf0.1; after: ~1 +
    rounds). Pick frames total ≤ |V|/2 rows across ALL rounds — the
    same order as the result itself — so holding their blocks to the
    end costs what the old single matching checkpoint cost.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    spark = edges.sparkSession
    picks: list[DataFrame] = []
    n_edges = None  # None = unknown (first round probes via the ckpt)
    converged = False
    try:
        for _ in range(max_rounds):
            if n_edges == 0:
                converged = True
                break
            est = F.struct("w", "src", "dst")
            node_min = (
                e.select(F.col("src").alias("node"), est.alias("e"))
                .unionByName(
                    e.select(F.col("dst").alias("node"), est.alias("e"))
                )
                .groupBy("node")
                .agg(F.min("e").alias("m"))
            )
            ms = node_min.select(
                F.col("node").alias("src"), F.col("m").alias("m_src")
            )
            md = node_min.select(
                F.col("node").alias("dst"), F.col("m").alias("m_dst")
            )
            sel = (
                e.join(ms, "src")
                .join(md, "dst")
                .filter((est == F.col("m_src")) & (est == F.col("m_dst")))
                .select("src", "dst", "w")
                # lazy: materialized (and lineage-truncated) inside the
                # nxt checkpoint job below, which reads it twice
                .localCheckpoint(eager=False)
            )
            matched = (
                sel.select(F.col("src").alias("node"))
                .unionByName(sel.select(F.col("dst").alias("node")))
                .distinct()
            )
            e, seen = checkpoint_round(
                e.join(
                    matched.select(F.col("node").alias("src")),
                    "src",
                    "left_anti",
                ).join(
                    matched.select(F.col("node").alias("dst")),
                    "dst",
                    "left_anti",
                ),
                F.count(F.lit(1)).alias("edges"),
                replaces=e,
            )
            n_edges = seen["edges"]
            picks.append(sel)
        if not converged and n_edges != 0:
            raise RuntimeError(
                f"greedy_maximal_matching: edges remain after "
                f"{max_rounds} rounds — matching would be non-maximal; "
                f"raise max_rounds"
            )
    finally:
        release_checkpoint(e)
    matching = spark.createDataFrame([], "src long, dst long, w long")
    for sel in picks:
        matching = matching.unionByName(sel)
    return matching


def luby_mis(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 60,
) -> DataFrame:
    """(node, in_mis) maximal independent set via locally-minimal
    priority rounds (Luby 1986, the deterministic-priority variant):
    every node gets the engine-portable priority
    md5('mis:' || node) || lpad(node, 12, '0') (strict total order —
    the zero-padded id breaks any digest tie), and each round selects
    every ACTIVE node whose priority is smaller than all its active
    neighbors' (a mutually non-adjacent set by construction), adds it
    to the MIS, and deactivates it and its neighbors.

    Certificate (the greedy_maximal_matching discipline on NODES): the
    result equals EXACTLY the lexicographically-first MIS the
    SEQUENTIAL greedy scan builds processing nodes in ascending
    priority (a node joins iff no earlier-priority neighbor joined —
    induction: each locally-minimal round commits precisely the greedy
    picks whose earlier neighbors are already resolved). The DuckDB
    twin runs that sequential scan as a list-state recursive-CTE fold;
    two different algorithms, unique answer, driver hash proves
    node-for-node agreement.

    Scale shape: per round one neighbor-grain min aggregate + two
    anti-joins on the shrinking active set; expected O(log n) rounds
    under hash-like priorities (each round removes a constant expected
    fraction); edge/active frames localCheckpoint-ed and released per
    round, O(1) plan depth. Round exhaustion with live nodes RAISES
    (non-maximal = wrong, never silent) — the boruvka interlock.
    Isolated active nodes (no surviving neighbor) are selected
    immediately via the max-sentinel coalesce."""
    spark = edges.sparkSession
    sym = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .unionByName(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .distinct()
    )
    pr = F.concat(
        F.md5(F.concat(F.lit("mis:"), F.col("node").cast("string"))),
        F.lpad(F.col("node").cast("string"), 12, "0"),
    )
    all_nodes = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", pr.alias("pr"))
        .localCheckpoint(eager=True)
    )
    # own checkpoint, NOT an alias of all_nodes: the loop releases
    # `active` each round, and the final membership join still reads
    # all_nodes' blocks
    active = all_nodes.select("node", "pr").localCheckpoint(eager=True)
    e = sym.localCheckpoint(eager=True)
    # r14 optimization (guide §1.2 on driver actions — the
    # greedy_maximal_matching restructure): 5 jobs/round → 2. The
    # emptiness probe rides nxt_active's eager checkpoint as an
    # observe() metric; winners is a LAZY checkpoint materialized as a
    # side effect of that same job (nxt_active anti-joins the dead set
    # derived from it); the MIS accumulates as a lazy union of the
    # materialized winner frames (≤ |V| rows total — result-sized)
    # instead of re-checkpointing a growing union every round.
    winner_frames: list[DataFrame] = []
    n_active = None  # None = unknown before the first round
    converged = False
    try:
        for _ in range(max_rounds):
            if n_active == 0:
                converged = True
                break
            nbr_min = (
                e.join(
                    active.select(
                        F.col("node").alias("dst"),
                        F.col("pr").alias("pr_d"),
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("pr_d").alias("nbr_min"))
                .select(F.col("src").alias("node"), "nbr_min")
            )
            winners = (
                active.join(nbr_min, "node", "left")
                # '~' (0x7e) sorts after every hex digit: an active
                # node with no surviving neighbor always wins
                .filter(
                    F.col("pr") < F.coalesce(F.col("nbr_min"), F.lit("~"))
                )
                .select("node")
                .localCheckpoint(eager=False)
            )
            dead = (
                winners.unionByName(
                    e.join(
                        winners.select(F.col("node").alias("src")), "src"
                    ).select(F.col("dst").alias("node"))
                )
                .distinct()
            )
            nxt_active, seen = checkpoint_round(
                active.join(dead, "node", "left_anti"),
                F.count(F.lit(1)).alias("active"),
            )
            n_active = seen["active"]
            winner_frames.append(winners)
            e = checkpoint_round(
                e.join(
                    dead.select(F.col("node").alias("src")), "src", "left_anti"
                ).join(
                    dead.select(F.col("node").alias("dst")), "dst", "left_anti"
                ),
                replaces=[active, e],
            )
            active = nxt_active
        if not converged and n_active != 0:
            raise RuntimeError(
                f"luby_mis: active nodes remain after {max_rounds} "
                f"rounds — the set would be non-maximal; raise "
                f"max_rounds"
            )
        mis = spark.createDataFrame([], "node long")
        for w_ in winner_frames:
            mis = mis.unionByName(w_)
        return all_nodes.join(
            mis.select(F.col("node").alias("m"), F.lit(1).alias("f")),
            all_nodes["node"] == F.col("m"),
            "left",
        ).select(
            "node",
            F.coalesce(F.col("f"), F.lit(0)).cast("int").alias("in_mis"),
        )
    finally:
        release_checkpoint(e)
        release_checkpoint(active)
