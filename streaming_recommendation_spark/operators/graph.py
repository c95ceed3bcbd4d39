"""Iterative graph algorithms as DataFrame rounds (Pregel-on-Spark
shape: one message shuffle per superstep, keyed by node).

Complements the existing graph legs — degree/normalized-edge prep
(q49, reference lightgcn graph construction) and connected-component
cluster resolution (operators/dedup.py) — with rank propagation.

Determinism policy: ranks are QUANTIZED to integer units (the same
trick as the integer Lloyd rounds in operators/similarity.py), so
every engine computes bit-identical rounds — summing integers is
order-independent where float summation is not, and integer division
truncates the same everywhere (all values here are nonnegative). A
DuckDB oracle replays the unrolled rounds exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.audit import checkpoint_partitioned, release

RANK_SCALE = 1 << 20  # rank unit = 2^-20 of total mass


def pagerank_quantized(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
    damping_pct: int = 85,
    scale: int = RANK_SCALE,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank over the UNDIRECTED graph (edges symmetrized), ranks
    in integer units of ``1/scale``: r'(v) = base + d * sum over
    in-neighbors u of r(u) div deg(u), with base = (scale * (100-d%))
    div (100 * N) and the damping product evaluated as
    (d% * sum) div 100 — every step integer, so rounds replay
    bit-identically on any engine. Returns (node, rank) after
    ``rounds`` supersteps from the uniform start scale div N.

    Scale shape: one Spark job per superstep, whose only shuffle is
    the groupBy(dst) message aggregation (the Pregel superstep). The
    symmetrized edges are checkpointed once, hash-partitioned by the
    source key (the static side), and the degree table is one
    aggregation over that layout. The start vector (round 0) and
    every round's rank vector go through ``checkpoint_partitioned``
    sized from the edge side: hash-partitioned by node at the edge
    side's partition count, with AQE off. So the rank join against
    the edges on ``u = node`` and the join of the messages back onto
    the rank vector need no exchange, and round k never replays
    rounds 1..k-1 or the upstream edge join (lineage truncation, as
    in connected_components). Round 0 is materialized too, so the
    node count behind the start mass runs once. Each superseded
    round is released once the next one is materialized, and the
    edge side before returning: the result reads only the last
    round's checkpoint. On a real cluster prefer a reliable
    checkpoint dir.

    Quantization error: each div truncates < 1 rank unit = 2^-20 of
    total mass per node per round — negligible against PageRank's
    own damping tolerance, and the price of exact replay.

    ``seeds`` (optional 1-column ``node`` frame) switches to
    PERSONALIZED PageRank / random-walk-with-restart: both the start
    mass and the per-round teleport base go ONLY to the seed nodes
    (restricted to seeds present in the graph; N becomes |seeds|) —
    the recsys neighborhood-expansion scorer ("items relevant to
    THIS user's items", Pixie-style) a global rank cannot express.
    Same integer quantization, same superstep shape; a node's rank is
    0 until link mass reaches it, so after r rounds the support is
    exactly the r-hop neighborhood.
    """
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    rev = edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    # hash-partition the static edge side by the superstep join key
    # ONCE; checkpoint_partitioned keeps the layout visible to the
    # planner, so every round's rank join AND the degree aggregate
    # reuse it instead of re-shuffling the edge list per superstep
    # (plan-asserted in tests/test_plan_audit.py)
    sym = checkpoint_partitioned(fwd.union(rev).distinct(), "u", static=True)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("u").alias("node"), "deg")
    if seeds is None:
        nodes = nodes.withColumn("__seed", F.lit(1).cast("bigint"))
    else:
        sd = seeds.select("node").distinct().withColumn(
            "__s", F.lit(1).cast("bigint")
        )
        # seeds outside the graph carry no edges — restrict and count
        # over the intersection so teleport mass is fully assigned
        nodes = (
            nodes.join(F.broadcast(sd), "node", "left")
            .withColumn("__seed", F.coalesce(F.col("__s"), F.lit(0)))
            .drop("__s")
        )
    # N = the seed count (__seed is 0 or 1). Summed over the same
    # ``nodes`` plan as the ranks' side, not counted under a filter:
    # the seed broadcast is then one exchange, reused by both sides.
    n_frame = nodes.select(
        F.coalesce(F.sum("__seed"), F.lit(0).cast("bigint")).alias("__n")
    )
    # start mass scale div N on the seed set (1-row broadcast, no
    # driver action); uniform PageRank is the seeds=all special case.
    # Round 0 is materialized like every round, so the node count
    # behind it runs once, not again inside round 1's plan.
    ranks = checkpoint_partitioned(
        nodes.crossJoin(F.broadcast(n_frame)).select(
            "node",
            "deg",
            "__seed",
            F.expr(f"__seed * (CAST({scale} AS BIGINT) div __n)").alias("rank"),
            F.col("__n"),
        ),
        "node",
        size_from=sym,
    )
    for _ in range(rounds):
        contribs = (
            sym.join(
                ranks.select(
                    F.col("node").alias("u"),
                    F.expr("rank div deg").alias("__c"),
                ),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("__c").alias("__sum"))
        )
        nxt = checkpoint_partitioned(
            ranks.select("node", "deg", "__seed", "__n")
            .join(contribs, "node", "left")
            .select(
                "node",
                "deg",
                "__seed",
                "__n",
                (
                    F.expr(
                        f"__seed * ((CAST({scale} AS BIGINT)"
                        f" * {100 - damping_pct}) div (100 * __n))"
                    )
                    + F.expr(
                        f"({damping_pct} * coalesce(__sum, CAST(0 AS BIGINT)))"
                        f" div 100"
                    )
                ).alias("rank"),
            ),
            "node",
            size_from=sym,
        )
        release(ranks)
        ranks = nxt
    release(sym)
    return ranks.select("node", "rank")


def triangle_counts(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (the compact-forward / MapReduce node-iterator++ algorithm,
    Suri & Vassilvitskii, WWW'11).

    Input: undirected edges in any direction, self-loops and
    duplicates tolerated (canonicalized to a<b and deduped first).
    Output: (node, n_triangles) for every node in >=1 triangle.

    Scale shape — why orientation matters at 100 TB: the naive
    wedge join (adjacency self-join on the center node) generates
    sum(deg(v)^2) candidate wedges, which a single celebrity node
    with deg 10^7 turns into 10^14 rows. Orienting every edge from
    its lower-(degree, id) endpoint to the higher one caps every
    out-degree at O(sqrt(m)), bounding total wedges by O(m^1.5) —
    the Chiba-Nishizeki bound — independent of skew. The plan is
    then: one degree aggregation, one wedge self-join keyed on the
    (low-degree) center, one closing equi-join of wedge pairs
    against the canonical edge set, and one final groupBy(node).
    All shuffles are equi-keyed; nothing is quadratic in any
    single node's degree.

    Determinism: counts are integers; the output is unique per
    node. The DuckDB oracle re-derives the same counts from the
    orientation-free 3-way join (independent algorithm — q109).
    """
    und = (
        edges.where(F.col(a) != F.col(b))
        .select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .distinct()
    )
    und = checkpoint_partitioned(und, "a", "b")
    deg = (
        und.select(F.col("a").alias("n"))
        .union(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from its lower-(deg, id) endpoint; ties break
    # on id, and a<b already, so equal degrees orient a -> b
    # OPTIMIZATION_r12: shuffled-hash hints on the degree-attach and
    # triangle-closing joins (guide §3.1) — sort-merge sorted the 41M
    # wedge rows (sf0.1) just to probe the 1.2M-edge set; the hash
    # build side is the degree table / canonical edge list, both
    # O(edges) per partition (never wedge-sized), so the build fits
    # wherever the SMJ sort buffers did. Measured: orientation
    # materialization 13.3 -> 7.0 s, closing-join exec 9.0 -> 2.2 s.
    oriented = (
        und.join(
            deg.select(
                F.col("n").alias("a"), F.col("deg").alias("__da")
            ).hint("shuffle_hash"),
            "a",
        )
        .join(
            deg.select(
                F.col("n").alias("b"), F.col("deg").alias("__db")
            ).hint("shuffle_hash"),
            "b",
        )
        .select(
            F.when(
                (F.col("__da") < F.col("__db"))
                | ((F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    # the wedge stage self-joins `oriented` — without materializing
    # it once, BOTH join legs recompute the two degree joins above;
    # partitioning by the wedge key u lets the self-join reuse one
    # layout with zero extra exchanges
    oriented = checkpoint_partitioned(oriented, "u")
    o1 = oriented.select(F.col("u"), F.col("v").alias("v1"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("v2"))
    # wedges at the LOW-degree center u; canonical pair (v1 < v2 by id)
    # closes iff it appears in the undirected edge set
    wedges = o1.join(o2, "u").where(F.col("v1") < F.col("v2"))
    tri = wedges.join(
        und.hint("shuffle_hash"),
        (F.col("v1") == F.col("a")) & (F.col("v2") == F.col("b")),
    ).select("u", "v1", "v2")
    return (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("v1"), F.col("v2"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Bounded-hop BFS: (node, distance) = minimum number of edge
    hops from any node in ``seeds`` (a 1-column ``node`` frame),
    distance 0 for the seeds themselves, nodes further than
    ``max_hops`` absent. The neighborhood-expansion primitive behind
    "within k hops of these users/items" audience queries, spam-ring
    blast-radius checks, and k-hop subgraph extraction for GNN-style
    training samples.

    Determinism: distances are integers and the BFS layer a node
    first appears in is unique — no tie-breaks, bit-identical on any
    engine (the DuckDB oracle re-derives min hop count per node from
    a recursive expansion, an independent algorithm).

    Scale shape: the classic frontier loop — each hop is ONE
    equi-join of the (newly discovered) frontier against the edge
    list on the node key plus ONE left_anti against the visited set,
    both node-keyed shuffles (Pregel superstep). The edge list is
    static: materialized pre-partitioned on ``src`` once, every hop
    reuses the layout. The frontier only ever contains NEW nodes, so
    total join work across all hops is bounded by sum of frontier
    degrees <= m, and the per-hop checkpoint truncates lineage (hop k
    would otherwise replay hops 1..k-1 in every later branch — the
    same O(L^2)->O(L) move as random_walks).
    """
    adj = checkpoint_partitioned(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        "u",
        static=True,
    )
    # defensive dedup: a repeated seed row must not emit a duplicate
    # distance-0 row (and would double that seed's frontier fan-out)
    seed_nodes = seeds.select("node").distinct()
    visited = seed_nodes.select(
        "node", F.lit(0).alias("distance")
    ).localCheckpoint()
    frontier = seed_nodes.localCheckpoint()
    for t in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        # hop 1 is sized from the edge side: its frontier <= adj
        frontier = checkpoint_partitioned(
            nxt, "node", size_from=frontier if t > 1 else adj
        )
        visited = visited.unionByName(
            frontier.select("node", F.lit(t).alias("distance"))
        ).localCheckpoint()
    return visited


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
    walk_col: str = "walk_id",
    step_col: str = "step",
    node_col: str = "node",
) -> DataFrame:
    """(center, context, n_pairs): skip-gram co-occurrence pairs from
    a walk corpus — the step that turns ``random_walks`` output into
    word2vec/DeepWalk TRAINING DATA (each walk is a "sentence";
    every ordered pair of nodes <= ``window`` steps apart is one
    (center, context) example, counted with multiplicity across the
    corpus). Downstream, (center, context, n_pairs) with negative
    samples IS the skip-gram model's input relation.

    The window is measured in ARRAY POSITION after sorting by
    ``step_col`` — identical to step distance whenever a walk's steps
    are contiguous (random_walks emits 0..T with no gaps; a caller
    passing pre-filtered walks would change the semantics to
    "within `window` SURVIVING tokens", the standard skip-gram
    behavior after subsampling).

    Scale shape: one groupBy(walk) shuffle builds each walk as a
    bounded step-ordered array (walk length is a small constant set
    at generation), pairs expand JVM-side inside whole-stage codegen
    (nested transform over a +-window slice — never a self-join of
    the corpus on walk_id, which would re-shuffle the walk table
    twice and re-materialize each walk |walk| times), then one
    groupBy(center, context) count with map-side partial
    aggregation. Exact integer counts — bit-identical anywhere.
    """
    arrs = walks.groupBy(walk_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(step_col), F.col(node_col)))
        ).alias("__w")
    )
    w = F.col("__w")
    n = F.size(w)
    pairs = F.flatten(
        F.transform(
            w,
            lambda x, i: F.transform(
                # contexts strictly after the center, within `window`
                # steps; emit both orientations so the asymmetric
                # (center, context) universe is complete
                F.slice(
                    w,
                    i + F.lit(2),
                    F.least(F.lit(window), n - i - F.lit(1)),
                ),
                lambda y: F.struct(
                    x[node_col].alias("c"), y[node_col].alias("x")
                ),
            ),
        )
    )
    one_dir = arrs.select(F.explode(pairs).alias("__p")).select(
        F.col("__p.c").alias("center"), F.col("__p.x").alias("context")
    )
    both = one_dir.unionByName(
        one_dir.select(
            F.col("context").alias("center"), F.col("center").alias("context")
        )
    )
    return both.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_length: int = 4,
    walks_per_node: int = 1,
    start_nodes: DataFrame | None = None,
    max_degree: int | None = None,
) -> DataFrame:
    """Deterministic fixed-length random walks — the DeepWalk/node2vec
    corpus-generation step (the walk corpus IS the embedding model's
    training data; the reference trains LightGCN on the raw graph,
    this is the standard sampling alternative its data plane lacks).

    Returns (walk_id, step, node) for steps 0..walk_length; a walk
    TERMINATES early at a node with no out-edges (the row for the
    dead end is emitted, no successor rows). walk_id =
    start_node * walks_per_node + replica.

    Determinism (the oracle replays every transition): neighbors are
    kept as a SORTED array and the step choice is an integer Knuth
    hash of (walk_id, step) — no RNG state, so any engine (and any
    retry) draws the identical walk:

        lo = ((walk_id % 2^31) * K) % 2^32        K = 2654435761
        hi = (((walk_id >> 31) % 2^31) * K) % 2^32
        h  = (((lo + hi + step * 1000003 + 7) % 2^31) * K) % 2^32
        next = nbrs[1 + h % degree]

    (both 31-bit halves of walk_id feed the hash — a single mod-2^31
    reduction would alias walks with ids congruent mod 2^31 into
    identical step sequences; every intermediate stays under 2^63,
    ANSI-mode overflow-safe for any nonnegative 64-bit ids).

    Scale shape: adjacency is built ONCE (one groupBy(src) shuffle)
    with an optional ``max_degree`` hub cap — a walk leaving a
    100M-degree hub only ever needs the cap's slice, and the capped
    sorted-array state is what bounds executor memory (same cap
    lever as itemcf's history cap). Each of the ``walk_length``
    supersteps is ONE equi-join of the |walks|-row frontier against
    the adjacency on the node key — the Pregel shape; adjacency is
    materialized pre-partitioned on ``src`` so every superstep reuses
    one layout instead of re-shuffling it per round.
    """
    from ..functions.hashing import KNUTH, MOD32

    adj = edges.groupBy(F.col(src).alias("__n")).agg(
        F.sort_array(F.collect_list(F.col(dst))).alias("__nbrs")
    )
    if max_degree is not None:
        # deterministic hub cap: the max_degree smallest neighbor ids
        adj = adj.withColumn("__nbrs", F.slice("__nbrs", 1, max_degree))
    adj = checkpoint_partitioned(adj, "__n", static=True)

    starts = (
        start_nodes
        if start_nodes is not None
        else edges.select(F.col(src).alias("node")).distinct()
    )
    frontier = starts.select(
        F.col("node"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("__r"),
    ).select(
        (F.col("node") * F.lit(walks_per_node) + F.col("__r")).alias("walk_id"),
        F.col("node"),
    )
    out = frontier.select("walk_id", F.lit(0).alias("step"), "node")
    two31 = 2147483648
    # the hash mixes BOTH 31-bit halves of walk_id through a Knuth
    # round each before the step fold: reducing walk_id mod 2^31
    # alone would alias walks whose ids are congruent mod 2^31 (they
    # would draw identical step sequences and merge forever on
    # meeting — real at 64-bit id scale). Every intermediate stays
    # under 2^63 (ANSI-overflow-safe); shiftright == // for the
    # nonnegative ids this takes.
    lo = F.pmod(
        F.pmod(F.col("walk_id"), F.lit(two31)) * F.lit(KNUTH), F.lit(MOD32)
    )
    hi = F.pmod(
        F.pmod(F.shiftright(F.col("walk_id"), 31), F.lit(two31)) * F.lit(KNUTH),
        F.lit(MOD32),
    )
    for t in range(1, walk_length + 1):
        h = F.pmod(
            F.pmod(lo + hi + F.lit(t * 1000003 + 7), F.lit(two31))
            * F.lit(KNUTH),
            F.lit(MOD32),
        )
        step = frontier.join(adj, frontier["node"] == adj["__n"]).select(
            "walk_id",
            F.element_at(
                "__nbrs", (F.pmod(h, F.size("__nbrs")) + 1).cast("int")
            ).alias("node"),
        )
        # without this, branch t of the output union re-executes
        # joins 1..t (nothing shares subplans across union branches)
        # — O(L^2) joins; checkpointing each frontier keeps it O(L),
        # the same lineage-truncation move as pagerank's per-round
        # checkpoint, and the node key partitioning co-locates the
        # next join against adj. Step 1 is sized from adj.
        frontier = checkpoint_partitioned(
            step, "node", size_from=frontier if t > 1 else adj
        )
        out = out.unionByName(
            frontier.select("walk_id", F.lit(t).alias("step"), "node")
        )
    return out


def indexed_vocab(nodes: DataFrame, buckets: int = 64) -> DataFrame:
    """(node, idx): a deterministic dense bijection node -> [0, N)
    WITHOUT a global sort. A naive row_number over one global window
    is a single-partition bottleneck at vocabulary scale; instead:
    hash-bucket each node (Knuth multiplicative hash, ``buckets``
    buckets), row_number WITHIN each bucket (bounded partitions, the
    per-bucket sort is |vocab|/buckets rows), and add per-bucket
    offsets (prefix sums over the ``buckets``-row count table — a
    broadcast-size frame). The index is NOT value-ordered — callers
    that need order-free bijections (negative sampling) don't care,
    and that indifference is exactly what removes the global sort.
    Deterministic: bucket = hash(node), within-bucket order = node
    ascending, offsets = bucket ascending."""
    from pyspark.sql import Window

    from ..functions.hashing import KNUTH, MOD32

    n = nodes.select("node").distinct()
    b = n.withColumn(
        "__b",
        F.pmod(
            F.pmod(F.pmod(F.col("node"), F.lit(2147483648)) * F.lit(KNUTH), F.lit(MOD32)),
            F.lit(buckets),
        ),
    )
    counts = b.groupBy("__b").agg(F.count(F.lit(1)).alias("__c"))
    # prefix-sum offsets over <= `buckets` rows: the window IS global
    # but over a broadcast-size frame — constant work at any scale
    off_w = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = counts.select(
        "__b", F.coalesce(F.sum("__c").over(off_w), F.lit(0)).alias("__off")
    )
    in_w = Window.partitionBy("__b").orderBy("node")
    return (
        b.withColumn("__rn", F.row_number().over(in_w))
        .join(F.broadcast(offsets), "__b")
        .select("node", (F.col("__off") + F.col("__rn") - 1).alias("idx"))
    )


def skipgram_negatives(
    pairs: DataFrame,
    vocab: DataFrame,
    k: int = 3,
    center_col: str = "center",
    context_col: str = "context",
) -> DataFrame:
    """(center, context, j, neg_id): ``k`` deterministic negative
    samples per (center, context) training pair, drawn uniformly from
    ``vocab`` (a 1-column ``node`` frame) — the third and final piece
    of the word2vec/DeepWalk data pipeline (random_walks ->
    skipgram_pairs -> negatives): the output relation IS the
    skip-gram-with-negative-sampling model's training input.

    Draw j for pair (c, x): an integer Knuth hash of (c, x, j) mod
    |vocab|, mapped to a node through ``indexed_vocab``'s dense
    bijection — no RNG state, so retries, engines, and the SQL oracle
    draw identical negatives (same policy as random_walks). Accidental
    collisions (a "negative" equal to the center or true context) are
    KEPT, the standard word2vec treatment — filtering would bias the
    unigram distribution and the collision rate is 1/|vocab|.

    Scale shape: the vocab index build is one bounded-bucket ranking
    (see indexed_vocab — no global sort); the draw is a pure
    expression on the pair table (k rows exploded JVM-side); the only
    join maps draw -> node on the dense index, an equi-shuffle keyed
    by idx (or a broadcast when the vocab fits). Uniform sampling is
    deliberate: a frequency^0.75 table needs only a weighted variant
    of the same dense index (repeat-counts), at the cost of index
    size — uniform keeps the index |vocab| rows.
    """
    from ..functions.hashing import KNUTH, MOD32

    if k < 1:
        # F.sequence(1, 0) auto-steps -1 and emits junk draws [1, 0]
        raise ValueError(f"skipgram_negatives needs k >= 1, got {k}")
    two31 = 2147483648
    idx = indexed_vocab(vocab)
    n_frame = idx.agg(F.count(F.lit(1)).alias("__n"))

    def kh(col):
        return F.pmod(F.pmod(col, F.lit(two31)) * F.lit(KNUTH), F.lit(MOD32))

    drawn = (
        pairs.select(center_col, context_col)
        .crossJoin(F.broadcast(n_frame))
        .select(
            center_col,
            context_col,
            "__n",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
        )
        .withColumn(
            "__draw",
            F.pmod(
                kh(
                    F.pmod(
                        kh(F.col(center_col))
                        + kh(F.col(context_col))
                        + F.col("j") * F.lit(1000003)
                        + F.lit(7),
                        F.lit(two31),
                    )
                ),
                F.col("__n"),
            ),
        )
    )
    return drawn.join(
        idx.select(F.col("idx").alias("__draw"), F.col("node").alias("neg_id")),
        "__draw",
    ).select(center_col, context_col, "j", "neg_id")


def kcore(
    edges: DataFrame,
    k,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Bounded-round k-core peeling over the UNDIRECTED graph (edges
    symmetrized, self-loops dropped): repeatedly delete nodes with
    degree < k and their incident edges. Returns (node, degree) for
    nodes surviving ``rounds`` peels, with their degree INSIDE the
    surviving subgraph — the density-filtering primitive behind
    spam/bot-ring extraction (dense cores), visualization pruning,
    and community pre-filtering. ``k`` is an int or a 1-row/1-column
    DataFrame (a data-derived threshold joins as a broadcast scalar
    — no driver action).

    The exact k-core is the FIXPOINT; with ``rounds`` fixed this is
    the r-round peel (identical once the cascade converges — one
    idempotent extra round is a cheap convergence proof, and the
    oracle replays the same unrolled rounds). Production depth runs
    until a round deletes nothing, checkpointing per round exactly
    as here.

    Determinism: pure integer degree thresholding — no tie-breaks,
    bit-identical anywhere.

    Scale shape: each round is ONE groupBy(node) degree aggregation
    + TWO semi-joins (edges whose src AND dst survive), all
    node-keyed equi shuffles; the edge set only ever SHRINKS, so
    round cost is monotonically decreasing; per-round checkpoints
    truncate lineage (round r would otherwise replay rounds 1..r-1 —
    the same move as pagerank/bfs).
    """
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    rev = edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    sym = checkpoint_partitioned(
        fwd.union(rev).where(F.col("u") != F.col("v")).distinct(),
        "u",
        static=True,
    )
    if isinstance(k, int):
        k_frame = None
        k_expr = F.lit(k)
    else:
        # materialize the 1-row threshold once: every round crossJoins
        # it, and without this each round would re-execute the k
        # derivation's whole lineage (e.g. q152's median window) —
        # same lineage-truncation rationale as the per-round
        # checkpoints below
        kf = k.select(F.col(k.columns[0]).alias("__k")).localCheckpoint()
        k_frame = F.broadcast(kf)
        k_expr = F.col("__k")
    surviving = sym
    for _ in range(rounds):
        deg = surviving.groupBy("u").agg(F.count(F.lit(1)).alias("__deg"))
        alive_base = (
            deg if k_frame is None else deg.crossJoin(k_frame)
        )
        alive = alive_base.where(F.col("__deg") >= k_expr).select("u")
        surviving = checkpoint_partitioned(
            surviving.join(alive, "u", "left_semi").join(
                alive.select(F.col("u").alias("v")), "v", "left_semi"
            ),
            "u",
            size_from=surviving,
        )
    return surviving.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def weighted_indexed_vocab(weights: DataFrame, buckets: int = 64) -> DataFrame:
    """(node, lo, hi): disjoint integer ranges tiling [0, W) with
    hi - lo = weight(node) — the WEIGHTED dense bijection
    (``weights``: a (node, weight) frame, positive integer weights;
    W = total weight). A draw d in [0, W) selects the node whose
    range contains it, so node probability is weight/W — the unigram
    sampling table of word2vec, exact in integers. Built without a
    global sort, same two-phase shape as ``indexed_vocab``: Knuth
    hash-bucket, within-bucket cumulative weights (window sum over
    bounded partitions, ordered by node), broadcast prefix-sum bucket
    offsets."""
    from pyspark.sql import Window

    from ..functions.hashing import KNUTH, MOD32

    wt = weights.select(
        F.col("node"), F.col("weight").cast("long").alias("__w")
    ).where(F.col("__w") > 0)
    b = wt.withColumn(
        "__b",
        F.pmod(
            F.pmod(F.pmod(F.col("node"), F.lit(2147483648)) * F.lit(KNUTH), F.lit(MOD32)),
            F.lit(buckets),
        ),
    )
    totals = b.groupBy("__b").agg(F.sum("__w").alias("__t"))
    off_w = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = totals.select(
        "__b", F.coalesce(F.sum("__t").over(off_w), F.lit(0)).alias("__off")
    )
    in_w = (
        Window.partitionBy("__b")
        .orderBy("node")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    return (
        b.withColumn("__cum", F.coalesce(F.sum("__w").over(in_w), F.lit(0)))
        .join(F.broadcast(offsets), "__b")
        .select(
            "node",
            (F.col("__off") + F.col("__cum")).alias("lo"),
            (F.col("__off") + F.col("__cum") + F.col("__w")).alias("hi"),
        )
    )


def skipgram_negatives_weighted(
    pairs: DataFrame,
    weights: DataFrame,
    k: int = 3,
    center_col: str = "center",
    context_col: str = "context",
) -> DataFrame:
    """Weighted variant of ``skipgram_negatives``: negatives drawn
    with probability weight/W from a (node, weight) frame — the
    unigram-table distribution (word2vec classically uses
    frequency^0.75; integer weights keep the table exact, so callers
    pick the smoothing by choosing the weights — degree, capped
    degree, or a precomputed integer power table).

    The draw hash is IDENTICAL to the uniform variant (Knuth over
    (center, context, j)), taken mod W instead of mod N; the draw
    maps to its owning range via a GRANULE equi-join: ranges tile
    [0, W) disjointly, each range replicates to the ceil(weight/G)+1
    granules of size G = max(1, W div N) it overlaps (~2N rows
    total), probes join on floor(draw/G) and filter lo <= d < hi —
    a bucketized range join (same move as operators/asof.range_join),
    never a nested-loop. Deterministic end to end; the SQL oracle
    replays draw, granule, and range identically."""
    from ..functions.hashing import KNUTH, MOD32

    if k < 1:
        # F.sequence(1, 0) auto-steps -1 and emits junk draws [1, 0]
        raise ValueError(
            f"skipgram_negatives_weighted needs k >= 1, got {k}"
        )

    two31 = 2147483648
    widx = weighted_indexed_vocab(weights)
    tot = widx.agg(
        F.max("hi").alias("__w_total"), F.count(F.lit(1)).alias("__n")
    )

    def kh(col):
        return F.pmod(F.pmod(col, F.lit(two31)) * F.lit(KNUTH), F.lit(MOD32))

    drawn = (
        pairs.select(center_col, context_col)
        .crossJoin(F.broadcast(tot))
        .select(
            center_col,
            context_col,
            "__w_total",
            "__n",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
        )
        .withColumn(
            "__draw",
            F.pmod(
                kh(
                    F.pmod(
                        kh(F.col(center_col))
                        + kh(F.col(context_col))
                        + F.col("j") * F.lit(1000003)
                        + F.lit(7),
                        F.lit(two31),
                    )
                ),
                F.col("__w_total"),
            ),
        )
        .withColumn(
            "__g", F.expr("__draw div greatest(CAST(1 AS BIGINT), __w_total div __n)")
        )
    )
    granules = widx.crossJoin(F.broadcast(tot)).select(
        "node",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.expr("lo div greatest(CAST(1 AS BIGINT), __w_total div __n)"),
                F.expr("(hi - 1) div greatest(CAST(1 AS BIGINT), __w_total div __n)"),
            )
        ).alias("__g"),
    )
    return (
        drawn.join(granules, "__g")
        .where((F.col("__draw") >= F.col("lo")) & (F.col("__draw") < F.col("hi")))
        .select(center_col, context_col, "j", F.col("node").alias("neg_id"))
    )


def propagate_embeddings(
    edges: DataFrame,
    features: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """LightGCN-style embedding propagation over the UNDIRECTED graph
    (edges symmetrized), in INTEGER feature units: per round

        e'(v, d) = (sum over neighbors u of e(u, d)) div deg(v)

    (mean-of-neighbors aggregation — no self-loop, no transform, no
    nonlinearity: exactly LightGCN's design point, which showed the
    propagation ALONE is the useful part), and the output combines
    layers the way LightGCN does — the mean over e^0..e^rounds,
    computed as an integer sum div (rounds + 1). ``features`` is a
    LONG-FORM integer frame (node, dim, val) — long form keeps every
    step a plain aggregate (no array zip), and integer units make
    each round ONE flooring div per (node, dim) — floor, not Spark's
    truncate-toward-zero `div`, so negative (centered) feature values
    divide identically to DuckDB's `//` — so any engine
    replays the propagation bit-for-bit. LightGCN's symmetric
    1/sqrt(deg_u * deg_v) normalization is irrational and therefore
    NOT exactly replayable; the row-normalized (random-walk) variant
    here is its standard exact-arithmetic stand-in — a documented
    divergence, not an approximation bug.

    Returns (node, dim, emb) for every node that has features, where
    ``emb`` is the layer-combined integer embedding. A node keeps its
    own e^0 contribution even if isolated (degree 0 simply propagates
    nothing in or out).

    Scale shape: per round ONE join of the feature table against the
    edge list on the source key plus ONE groupBy(dst, dim) message
    aggregation — the Pregel superstep, every shuffle keyed by node
    id. The static symmetrized edge side is hash-partitioned and
    checkpointed ONCE (same policy as pagerank_quantized); each
    round's features checkpoint too, so round k never replays rounds
    1..k-1 (the O(L^2) -> O(L) lineage move)."""
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    rev = edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    sym = checkpoint_partitioned(fwd.union(rev).distinct(), "u", static=True)
    deg = sym.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    cur = features.select("node", "dim", F.col("val").alias("e"))
    acc = cur.select("node", "dim", F.col("e").alias("acc"))
    for r in range(rounds):
        msgs = (
            cur.join(sym, cur["node"] == sym["u"])
            .groupBy(F.col("v").alias("node"), F.col("dim"))
            .agg(F.sum("e").alias("__s"))
        )
        # floor division (DuckDB // semantics), NOT Spark's truncating
        # `div`: they differ on negative dividends (centered features),
        # and the q163 oracle floors — exact in integers, no double
        # round-trip (ADVICE r7). __deg is a count, always > 0.
        layer = msgs.join(deg, "node").select(
            "node",
            "dim",
            F.expr(
                "__s div __deg - (CASE WHEN __s % __deg != 0 AND __s < 0 "
                "THEN 1 ELSE 0 END)"
            ).alias("e"),
        )
        # layer 1 is sized from the edge side, as in bfs and walks
        cur = checkpoint_partitioned(
            layer, "node", size_from=cur if r > 0 else sym
        )
        acc = (
            acc.join(cur, ["node", "dim"], "left")
            .select(
                "node",
                "dim",
                (F.col("acc") + F.coalesce(F.col("e"), F.lit(0))).alias("acc"),
            )
        )
    d = rounds + 1
    return acc.select(
        "node",
        "dim",
        F.expr(
            f"acc div {d} - (CASE WHEN acc % {d} != 0 AND acc < 0 "
            "THEN 1 ELSE 0 END)"
        ).alias("emb"),
    )
