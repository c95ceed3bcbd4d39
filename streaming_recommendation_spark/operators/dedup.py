"""Deduplication operators for large-scale corpus curation.

Beyond the reference's exact (user,item) dedup (reference:
data_processing/generate_lightgcn_data.py:22-37 — a set() of tuples),
these are the dedup modes a 100 TB training-data pipeline needs. All
are expressed as DataFrame plans:

  * exact_dedup         — md5-group; one shuffle on the digest.
  * ngram_jaccard_pairs — shingle explode -> self-join on shingle ->
                          per-pair intersection counts; |pairs| is
                          bounded by shared-shingle co-occurrence, not
                          |docs|^2.
  * minhash_signatures / minhash_lsh_pairs — k independent
    permutation-free minhashes ((a*h+b) mod p), banded into LSH
    buckets; candidate pairs only form inside a bucket, which is what
    keeps this linear-ish at corpus scale.
  * simhash64 — 64-bit sign-aggregated fingerprint; near-dups differ
    in few bits (compare via xor popcount).

Every hash is the cross-engine deterministic md5-derived hash
(functions.hashing.det_hash_str) so the DuckDB oracle can replay the
exact pipeline.
"""

from __future__ import annotations

import numpy as np

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import det_hash_str
from ..plans.audit import checkpoint_partitioned

# Carter-Wegman family g_i(h) = (a_i*h + b_i) mod P over the Mersenne
# prime P = 2^31-1, with the shingle hash h restricted to 28 bits
# (first 7 hex chars of md5) and a_i, b_i drawn uniformly from [1, P).
# a*h < 2^59 stays exact in int64 for ANY SQL engine, yet a*h wraps
# the modulus ~2^28 times, so the family is genuinely 2-universal.
# (The earlier 2^61-1 variant with a < 2^30 barely wrapped once:
# components stayed monotone in the same min-shingle hash and the
# per-component agreement rate did NOT track Jaccard — see
# tests/test_dedup.py::test_minhash_component_agreement_tracks_jaccard.)
MH_PRIME = 2147483647  # 2^31 - 1


def _mh_param(i: int, salt: str) -> int:
    """Deterministic pseudo-random coefficient uniform-ish in [1, P).
    Derived from md5 so the DuckDB oracle can reproduce the values."""
    digest = hashlib.md5(f"minhash-{salt}-{i}".encode()).hexdigest()
    return int(digest[:12], 16) % (MH_PRIME - 1) + 1


MH_PARAMS = [(_mh_param(i, "a"), _mh_param(i, "b")) for i in range(64)]


def normalize_text(col):
    """Lowercase, collapse whitespace — canonical form for hashing."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def spread(df: DataFrame, repartition: int | bool | None = None) -> DataFrame:
    """Spread a narrow source across cores for CPU-bound per-row work
    (hashing, shingling, decode). Semantics of ``repartition`` — the
    one knob every corpus operator here plumbs through:

      * ``None``/``True`` (default, auto): round-robin repartition to
        the session default parallelism ONLY when the input has fewer
        partitions. A single-small-file local source arrives as 1
        partition and would pin the whole pass to one core; at real
        scale the scan's file/row-group splits already provide the
        parallelism, the probe sees enough partitions, and this is a
        no-op — no operator unconditionally reshuffles a 100 TB scan.
      * ``False``: never reshuffle (trust the upstream layout, e.g. a
        bucketed/pre-partitioned table).
      * ``int``: force exactly that many partitions.

    The partition probe is plan-side (no Spark job) — callers pass
    scan-stage inputs here, so there is no upstream exchange for the
    ``.rdd`` conversion to materialize.
    """
    if repartition is False:
        return df
    if repartition is None or repartition is True:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    return df.repartition(int(repartition))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition: int | bool | None = None,
) -> DataFrame:
    """Keep the lowest-id representative per identical (normalized) text."""
    return (
        spread(df, repartition)
        .withColumn("__digest", F.md5(normalize_text(F.col(text_col))))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__digest")
    )


def word_shingles(col, n: int = 3):
    """n-gram word shingles of normalized text -> array<string>."""
    words = F.split(normalize_text(col), " ")
    k = F.size(words) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    repartition: int | bool | None = None,
) -> DataFrame:
    """(id, shingle) exploded + de-duplicated per doc."""
    return (
        spread(df, repartition)
        .select(F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Doc pairs with shingle-set Jaccard >= threshold (a < b).

    Inverted-index self-join: pairs only materialize for docs sharing
    at least one shingle. Sizes come from one groupBy; Jaccard =
    |∩| / (|A| + |B| - |∩|).

    ``max_df_ratio`` caps the inverted index by document frequency:
    shingles present in more than that fraction of docs are dropped
    from the JOIN side (sizes still count them). At corpus scale a
    boilerplate shingle shared by 10% of documents alone generates
    (0.1·N)^2 candidate pairs — the cap is what keeps the self-join
    linear-ish. Jaccard becomes a lower bound for pairs whose overlap
    was purely stop-shingles (they were never near-dups anyway).
    """
    sh = shingle_table(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    joinable = sh
    if max_df_ratio is not None:
        # cap = max(2, ratio * n_docs), derived lazily from the shingle
        # table itself (a 1-row aggregate broadcast into the filter) —
        # constructing this plan triggers zero Spark jobs, and n_docs
        # costs one extra pass over the (much smaller) distinct-id set,
        # not a second scan of the corpus.
        n_docs_df = sh.select(
            F.count_distinct(F.col(id_col)).alias("__n_docs")
        )
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(n_docs_df))
            .where(
                F.col("df")
                <= F.greatest(
                    F.lit(2),
                    (F.lit(max_df_ratio) * F.col("__n_docs")).cast("long"),
                )
            )
            .select("shingle")
        )
        joinable = sh.join(rare, "shingle", "left_semi")
    a = joinable.select(F.col(id_col).alias("a"), "shingle")
    b = joinable.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    repartition: int | bool | None = None,
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — minhash of the shingle set.

    minhash_i = min over shingles s of (a_i * H(s) + b_i) mod P, with
    H the deterministic md5-derived 28-bit hash (7 hex chars — small
    enough that a*H stays int64-exact while wrapping P many times).

    Perf shape: H(s) is materialized ONCE per shingle in its own
    projection (CollapseProject won't re-inline an expensive alias),
    then one aggregate pass folds every shingle into all num_hashes
    mins via an indexed transform — O(shingles x num_hashes) cheap
    int ops, O(shingles) md5 calls. A naive per-hash array_min
    recomputes md5 num_hashes times. ``repartition`` spreads the
    CPU-bound scan when the source is a single small file (local
    tests); at scale the file count already provides parallelism.
    """
    params = MH_PARAMS[:num_hashes]
    df = spread(df, repartition)
    sh = F.array_distinct(word_shingles(F.col(text_col), n))
    hashed = df.select(
        F.col(id_col),
        F.transform(
            sh, lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")
        ).alias("__h"),
    )
    # single-literal-node arrays (np literals) — the per-element
    # F.lit construction cost showed up as driver planning time
    a_arr = F.lit(np.asarray([a for a, _ in params], dtype="int64"))
    b_arr = F.lit(np.asarray([b for _, b in params], dtype="int64"))
    sig = F.aggregate(
        F.col("__h"),
        F.array_repeat(F.lit(MH_PRIME).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (a * h + b) % F.lit(MH_PRIME)),
            lambda x, y: F.least(x, y),
        ),
    )
    return hashed.select(F.col(id_col), sig.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on all rows of >=1 band.

    Bucket key = md5 of the band slice; the self-join happens on
    (band, bucket) so only same-bucket docs ever meet — the LSH
    property that makes near-dedup feasible at corpus scale.
    Returns distinct (a, b) with a < b; verify with
    ngram_jaccard_pairs on the candidates if exact Jaccard is needed.
    """
    banded = banded_signature_table(df, num_hashes, bands, text_col, id_col, n)
    a = banded.select(F.col(id_col).alias("a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition: int | bool | None = None,
) -> DataFrame:
    """(id, simhash: long) — 64-bit SimHash over word shingles.

    Bit j of the fingerprint is the sign of sum over shingles of
    (+1 if bit j of H(shingle) else -1). Near-duplicate docs yield
    fingerprints within small Hamming distance; compare with
    ``F.bit_count(a ^ b)``.
    """
    words = word_shingles(F.col(text_col), 2)
    exploded = spread(df, repartition).select(
        F.col(id_col), F.explode(words).alias("w")
    ).withColumn(
        "h", F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
    )
    # Per-bit vote, packed: bit j's vote is positive iff
    # 2 * (#shingles with bit j set) > #shingles. Packing three 20-bit
    # set-bit counters per aggregate long (bits 3k, 3k+1, 3k+2 share
    # p{k}) cuts the agg from 60 sum columns to 20+1 — 3x smaller
    # generated code (multi-second cold-compile win on wide plans) and
    # a 3x narrower partial-agg shuffle buffer. Bound: < 2^20 shingles
    # (~6 MB of text) per doc before a counter could carry into its
    # neighbor field.
    FIELD = 20
    packed_cols = [
        F.sum(
            F.shiftright(F.col("h"), 3 * k).bitwiseAND(F.lit(1))
            + F.shiftright(F.col("h"), 3 * k + 1).bitwiseAND(F.lit(1)) * F.lit(1 << FIELD)
            + F.shiftright(F.col("h"), 3 * k + 2).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * FIELD))
        ).alias(f"p{k}")
        for k in range(20)
    ]
    votes = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_sh"), *packed_cols
    )
    mask = F.lit((1 << FIELD) - 1)
    fp = None
    for j in range(60):
        k, m = divmod(j, 3)
        cnt = F.shiftright(F.col(f"p{k}"), FIELD * m).bitwiseAND(mask)
        term = F.when(cnt * 2 > F.col("n_sh"), F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, hamming) pairs with SimHash Hamming distance <=
    ``max_hamming`` (a < b) — the classic banded SimHash dedup
    (Manku et al., WWW'07 shape): split the 60-bit fingerprint into
    4 bands of 15 bits; by pigeonhole, any pair within Hamming
    distance 3 agrees EXACTLY on at least one band, so candidate
    pairs form only inside a (band, 15-bit value) bucket — an
    equi-join, never an all-pairs scan. ``bit_count(a XOR b)``
    verifies exactly.

    max_hamming must be <= 3 with 4 bands (pigeonhole guarantee);
    raising it needs more bands.
    """
    if max_hamming > 3:
        raise ValueError(
            "max_hamming > 3 breaks the 4-band pigeonhole guarantee; "
            "use more bands (60/15) or filter the full fingerprint set"
        )
    fps = simhash64(df, text_col, id_col)
    banded = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 15 * b).bitwiseAND(F.lit((1 << 15) - 1))
                    for b in range(4)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("__fa"), "band", "bucket"
    )
    b = banded.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("__fb"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .select(
            "a",
            "b",
            F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def banded_signature_table(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, band, bucket) — the LSH index rows for a corpus. Persist
    this (bucketed by `bucket`, sources.layout.write_bucketed) and
    incremental dedup of NEW documents becomes one equi-join against
    the stored index — signatures of the existing corpus are never
    recomputed. This is what makes continuous-ingest dedup feasible
    at 100 TB: per batch, cost ~ |new docs| x bands, not |corpus|."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, text_col, id_col, n)
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def lsh_candidates_from_signatures(
    new_sigs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate (new_id, existing_id) pairs from two
    banded_signature_table frames — the join leg shared by
    incremental_lsh_candidates and the streaming ingest pipeline
    (which hashes each micro-batch exactly once and passes the
    signatures here instead of re-deriving them)."""
    new_banded = new_sigs.select(F.col(id_col).alias("new_id"), "band", "bucket")
    existing = index.select(F.col(id_col).alias("existing_id"), "band", "bucket")
    return (
        new_banded.join(existing, ["band", "bucket"])
        .where(F.col("new_id") != F.col("existing_id"))
        .select("new_id", "existing_id")
        .distinct()
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    index: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Candidate (new_id, existing_id) pairs: new docs vs a previously
    persisted banded_signature_table. Only the new batch is hashed."""
    new_banded = banded_signature_table(
        new_docs, num_hashes, bands, text_col, id_col, n
    )
    return lsh_candidates_from_signatures(new_banded, index, id_col)


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    minimum node id of its connected component.

    Iterative min-label propagation: each round every node takes the
    smallest label among itself and its neighbors — implemented as ONE
    message pass over a neighbor list that includes a self-loop per
    node, so the per-node min IS the new label and the self entry
    carries the previous label for change detection (two exchanges per
    round: the label join against the statically-partitioned edge
    side, and the message groupBy). Labels decrease monotonically, so
    the fixpoint is the per-component minimum, reached in O(graph
    diameter) rounds — for near-dup clusters the diameter is tiny
    (docs in a cluster share buckets pairwise), so 3-5 rounds is
    typical.

    Scale notes: each round ends in ``localCheckpoint`` to truncate
    lineage (without it, round k replays rounds 1..k-1 and the plan
    grows quadratically). On a real cluster prefer a reliable
    ``checkpoint`` dir so a lost executor doesn't recompute the chain.
    For adversarial long-chain graphs (diameter ~ |V|) swap in the
    large-star/small-star rounds of Kiveris et al., "Connected
    Components in MapReduce and Beyond" (O(log^2 n) rounds); dedup
    graphs never look like that, so the simple monotone propagation is
    the better constant factor here.
    """
    # materialize the edge list ONCE: without this, every round's join
    # re-executes the whole upstream candidate-pair pipeline (LSH
    # banding etc.) — the edges are tiny relative to the corpus scan
    # that produces them
    # hash-partitioned by the per-round join key (nbr) so each
    # propagation round's message join reuses the static edge-side
    # partitioning instead of re-shuffling it (checkpoint_partitioned
    # keeps the layout visible to the planner under AQE)
    # OPTIMIZATION_r12: materialize the RAW pairs first — labels and
    # sym below each materialize separately, and without this both
    # would re-run the whole upstream candidate-pair pipeline (plans
    # are trees; exchange reuse does not cross separate executions)
    raw = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("nbr")
    ).localCheckpoint()
    base = raw.union(
        raw.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    )
    labels = (
        base.select("node").distinct().withColumn("label", F.col("node"))
    ).localCheckpoint()
    # OPTIMIZATION_r12: a SELF-loop per node folds the whole round
    # into the one message pass — min over (neighbors + self) IS
    # least(own label, neighbor min), and the self row carries the
    # node's previous label, so change detection reads the same
    # aggregate instead of re-joining old vs new labels. Round cost
    # drops from 4 exchanges + a join-count job to 2 exchanges
    # (labels by nbr — the static sym side reuses its checkpointed
    # layout — and the message groupBy) + the count.
    # the static edge side is sized from the raw pairs, not the core
    # count: every round's message join inherits this layout
    sym = checkpoint_partitioned(
        base.union(labels.select("node", F.col("node").alias("nbr"))),
        "nbr",
        size_from=raw,
    )
    rounds = 0
    # max_iter + 1: detecting the fixpoint costs one extra
    # changed==0 confirmation round after the last label actually
    # moves, so a graph converging in exactly max_iter propagation
    # rounds must not be charged for the confirmation (ADVICE r4 —
    # previously the effective budget was max_iter - 1).
    for _ in range(max_iter + 1):
        rounds += 1
        # the label each (neighbor + self) entry carries, then the
        # per-node min; the self entry's label is the previous label
        new_labels = (
            sym.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(
                    F.when(F.col("nbr") == F.col("node"), F.col("label"))
                ).alias("__prev"),
            )
        ).localCheckpoint()
        # labels only ever decrease -> strict < detects any change
        changed = new_labels.where(F.col("label") < F.col("__prev")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        # silent truncation would split one real cluster into several
        # cluster_ids (multiple "canonical" survivors) — the same
        # loud-failure contract as connected_components_star. Chains
        # deeper than max_iter are exactly what the star variant is
        # for.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(min-label propagation needs one round per hop of graph "
            "diameter); raise max_iter or use connected_components_star / "
            "dedup_clusters(algorithm='star') for long-chain graphs"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star
    rounds — component = the minimum node id, same contract as
    ``connected_components``.

    Kiveris et al., "Connected Components in MapReduce and Beyond"
    (SoCC'14), Algorithm 2 (the Alternating algorithm):

      * large-star(u): every neighbor v > u re-attaches to
        m = min(N(u) + {u})              -> emit (v, m)
      * small-star(u): orient edges to the larger endpoint; every
        smaller neighbor AND u itself attach to m = min of the
        smaller neighbors                -> emit (l, m) + (u, m)

    Both steps preserve connectivity and monotonically shrink node
    labels; the alternation converges in O(log^2 n) rounds on ANY
    graph — including diameter-Theta(|V|) chains where min-label
    propagation (``connected_components``) needs a round PER HOP.
    Each round additionally applies a pointer-jump (Shiloach-Vishkin
    shortcutting: re-point every edge to its target's own minimum
    parent), which halves tree heights and cuts measured round
    counts ~2x on chain graphs. tests/test_dedup.py pins a 64-node
    chain resolving in <=8 rounds (vs 60+ propagation rounds); the
    600-node per-nation chains of q129 measured 11 -> 6 rounds with
    the jump (bench note, NOTES_ROUND5.md).

    Scale notes: each half-step is one star-keyed WINDOW aggregate
    (min per node, computed in place — no join back), the pointer
    jump is the round's only self-join, and the edge multiset never
    grows (large-star emits only v>u edges, small-star only
    re-parents). Lineage is truncated with ONE ``localCheckpoint``
    per round, after the jump. Use this variant
    when cluster chains can be long (transitive near-dup chains,
    entity resolution); ``connected_components`` keeps a better
    constant factor for shallow LSH-cluster graphs.
    """
    # OPTIMIZATION_r12: materialize the RAW pairs once — all_nodes and
    # cur below otherwise EACH re-run the whole upstream candidate-
    # pair pipeline (LSH banding + shingle verification for the
    # near-dedup callers), which dominated the CC call's wall time
    # (15.1 s / 44 jobs for a 2-round graph at sf0.1, ~2/3 of it the
    # duplicated upstream evaluations).
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    raw = raw.localCheckpoint()
    # every node ever seen — INCLUDING nodes whose only edges are
    # self-loops, so the node universe matches connected_components
    # (self-loops carry no connectivity but do introduce the node)
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # Parent-edge multiset, kept as distinct (u, v) pairs with u != v.
    cur = raw.where(F.col("u") != F.col("v")).distinct().localCheckpoint()
    rounds = 0
    cur_count = cur.count()
    converged = cur_count == 0
    # max_iter + 1 for the same reason as connected_components: the
    # no-op detection fires one round AFTER the last productive
    # contraction, and that confirmation round must not be charged
    # against the budget (ADVICE r4).
    for _ in range(max_iter + 1):
        if converged:
            break
        rounds += 1
        # OPTIMIZATION_r12: each half-star's min-per-node is a WINDOW
        # aggregate over the star key instead of a groupBy + join back
        # — one exchange per half-step instead of three (the groupBy,
        # the probe side, the dedup), and the round materializes ONE
        # checkpoint (after the pointer jump) instead of two. Under
        # AQE every exchange is its own stage-job, so the round's job
        # count drops ~3x; the half-steps are value-identical (min is
        # duplicate-insensitive, and the one-row-per-g branch is the
        # window's row_number() == 1 slice).
        # -------- large-star: (v, m) for every neighbor v > u --------
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        wu = Window.partitionBy("u")
        large = (
            sym.select(
                "u", "v", F.least(F.min("v").over(wu), F.col("u")).alias("m")
            )
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # -------- small-star: orient to larger endpoint, re-parent ---
        wg = Window.partitionBy("g")
        wgo = Window.partitionBy("g").orderBy("l")
        sw = large.select(
            F.greatest("u", "v").alias("g"), F.least("u", "v").alias("l")
        ).select(
            "g",
            "l",
            F.min("l").over(wg).alias("m"),
            F.row_number().over(wgo).alias("__rn"),
        )
        # OPTIMIZATION_r13 (ADVICE r12): ONE pass over sw instead of a
        # two-branch union — each sw row emits its (l, m) edge when
        # l != m and additionally the one-per-g (g, m) edge on the
        # rn == 1 row, via an inline array explode (null slots
        # filtered). Value-identical multiset (same rows, fused
        # branches), but sw's window subtree now appears ONCE in the
        # plan instead of twice.
        cand = F.array(
            F.when(
                F.col("l") != F.col("m"),
                F.struct(F.col("l").alias("u"), F.col("m").alias("v")),
            ),
            F.when(
                F.col("__rn") == 1,
                F.struct(F.col("g").alias("u"), F.col("m").alias("v")),
            ),
        )
        small = (
            sw.select(F.explode(cand).alias("__e"))
            .where(F.col("__e").isNotNull())
            .select("__e.u", "__e.v")
            .where(F.col("u") != F.col("v"))
        )
        # -------- pointer jump: u -> parent(parent(u)) ----------------
        # classic Shiloach-Vishkin shortcutting folded into the round:
        # every edge (u, v) re-points to v's own (minimum) parent when
        # one exists. Parents only ever decrease (all edges run
        # big -> small), so connectivity and the min-fixpoint are
        # untouched while tree heights halve — MEASURED on the
        # per-nation chain graph: 11 -> 6 rounds, ~20% wall. A
        # non-converging interaction would hit the max_iter error
        # loudly, never return wrong labels (and q129's recursive-CTE
        # oracle + the union-find parity tests pin the results).
        parents = (
            small.select(F.col("u").alias("v"), F.col("v").alias("w"))
            .groupBy("v")
            .agg(F.min("w").alias("w"))
        )
        small = (
            small.join(parents, "v", "left")
            .select("u", F.coalesce("w", "v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # converged when the round was a no-op (star edges reproduce
        # themselves through both half-steps); cur's count is carried
        # from the previous round — no job re-launch
        small_count = small.count()
        if small_count == cur_count and small.subtract(cur).count() == 0:
            cur = small
            converged = True
            break
        cur = small
        cur_count = small_count
    if not converged:
        # mid-contraction `cur` can hold SEVERAL parents per child —
        # returning it would silently fan the final join out into
        # conflicting (node, component) rows. With O(log^2 n)
        # convergence, exhausting max_iter means something is deeply
        # wrong (or max_iter was set absurdly low) — fail loudly.
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; raise max_iter (the alternation needs O(log^2 n) "
            "rounds, so this indicates a pathological input)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # final edges are (child, root-min); roots/isolated map to self
    return (
        all_nodes.join(cur.withColumnRenamed("u", "node"), "node", "left")
        .select(
            "node", F.coalesce("v", "node").alias("component")
        )
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "a",
    dst: str = "b",
    algorithm: str = "propagation",
) -> DataFrame:
    """Resolve near-dup candidate PAIRS into duplicate CLUSTERS:
    (doc_id, cluster_id, is_canonical) for EVERY document.

    LSH/SimHash emit pairwise candidates; a curation pipeline needs
    the transitive closure — if A~B and B~C, one canonical doc must
    survive from {A,B,C}, not two. cluster_id is the component's
    minimum doc id (deterministic, so an oracle can replay it);
    is_canonical marks the kept representative. Docs in no pair are
    their own singleton cluster.

    ``algorithm``: "propagation" (min-label, O(diameter) rounds —
    best constant factor on shallow LSH-cluster graphs) or "star"
    (alternating large-star/small-star, O(log^2 n) rounds — use when
    transitive chains can be long, e.g. entity resolution).
    """
    if algorithm == "star":
        cc = connected_components_star(pairs, src, dst)
    elif algorithm == "propagation":
        cc = connected_components(pairs, src, dst)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    return (
        df.select(id_col)
        .join(cc, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def span_coverage(dup_pos: DataFrame, id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """Merge flagged gram START positions into maximal covered spans
    per document (each position covers tokens [pos, pos + n)), and
    aggregate: (id, n_dup_spans, n_dup_grams, dup_tokens). The
    interval-union windows partition by doc id, so per-partition state
    is bounded by one document's positions — no cross-doc shuffle key.
    Shared by the hashed-n-gram (duplicate_ngram_spans) and
    rank-exact (operators.suffix) substring-dedup passes."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup_pos.withColumn(
        "__new", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    ).withColumn("__island", F.sum("__new").over(w))
    spans = islands.groupBy(id_col, "__island").agg(
        F.min("pos").alias("__s"),
        F.max("pos").alias("__e"),
        F.count(F.lit(1)).alias("__c"),
    )
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("__c").alias("n_dup_grams"),
        F.sum(F.col("__e") + n - F.col("__s")).alias("dup_tokens"),
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_df: int = 2,
    count_within_doc: bool = False,
    repartition: int | bool | None = None,
) -> DataFrame:
    """Exact-substring dedup diagnostics at token n-gram granularity
    (the Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" operator, approximated on n-gram boundaries
    instead of a suffix array).

    For every document: how many of its token n-grams occur in at
    least ``min_df`` documents, and what fraction of its TOKENS is
    covered by the union of those duplicated n-gram spans (the
    quantity a remove-duplicate-spans pass would cut). Returns
    (id, n_tokens, n_grams, n_dup_grams, n_dup_spans, dup_tokens,
    dup_token_ratio).

    ``count_within_doc=False`` (the q94 oracle's form) counts
    DOCUMENT frequency: an n-gram repeated ten times inside one page
    but unique corpus-wide is not flagged (that mode is
    curation.repetition_stats' job). ``count_within_doc=True``
    matches Lee et al.'s occurrence counting — total occurrences
    >= min_df flags intra-document boilerplate too.

    Scale shape: the gram table shuffles once keyed by gram hash for
    the document-frequency count (same key profile as every shingle
    pipeline here); the span-union windows partition by doc id, so
    per-partition state is bounded by a single document's gram count.
    No all-pairs join ever forms — unlike pairwise Jaccard, cost is
    linear in corpus grams, which is exactly why suffix-style dedup
    is the one pass that still runs at 100 TB.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    toks = spread(df, repartition).select(F.col(id_col), words.alias("__w"))
    base = toks.select(id_col, F.size("__w").alias("n_tokens"))
    grams = toks.where(F.size("__w") >= n).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__w") - (n - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice("__w", i, n))),
            )
        ).alias("pos", "gram"),
    )
    occurrences = (
        grams.select("gram", id_col)
        if count_within_doc
        else grams.select("gram", id_col).distinct()
    )
    dup_grams = (
        occurrences.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("gram")
    )
    dup_pos = grams.join(dup_grams, "gram").select(id_col, "pos")
    cov = span_coverage(dup_pos, id_col=id_col, n=n)
    # n_grams is pure arithmetic (every position yields one gram), so
    # no aggregation over the gram table is needed for it
    return (
        base.join(cov, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.greatest(
                F.col("n_tokens") - (n - 1), F.lit(0)
            ).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_token_ratio"),
        )
    )


def banded_hamming_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """(a, b, hamming) pairs with Hamming distance <= ``max_hamming``
    over an ARBITRARY precomputed fingerprint column — the generic
    form of ``simhash_near_dups``' banding, reusable for perceptual
    image hashes (multimodal.image_phash), audio fingerprints, or any
    bit-signature. Pigeonhole: max_hamming < bands guarantees any
    qualifying pair agrees exactly on >= 1 band, so candidates form
    only inside a (band, value) bucket — an equi-join, never
    all-pairs.
    """
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) >= bands ({bands}) breaks the "
            "pigeonhole guarantee; use more bands"
        )
    bw = bits // bands
    banded = df.select(
        F.col(id_col),
        F.col(hash_col).alias("__fp"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), bw * b).bitwiseAND(
                        F.lit((1 << bw) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(
        F.col(id_col).alias("a"), F.col("__fp").alias("__fa"), "band", "bucket"
    )
    b = banded.select(
        F.col(id_col).alias("b"), F.col("__fp").alias("__fb"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .select(
            "a",
            "b",
            F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    repartition: int | bool | None = None,
) -> DataFrame:
    """Doc pairs with shingle-set Jaccard >= threshold (a < b) via
    PREFIX FILTERING (the AllPairs algorithm, Bayardo et al. WWW'07)
    — same exact output as :func:`ngram_jaccard_pairs` (the q36
    oracle verifies both), with a candidate set that shrinks as the
    threshold rises instead of exploding on common shingles.

    Why: the plain inverted-index self-join materializes a candidate
    pair for EVERY shared shingle; a boilerplate shingle in f docs
    alone contributes f^2/2 pairs. Prefix filtering orders the vocab
    by ascending document frequency (rarest first, canonical total
    order) and indexes only each doc's first
    ``p = s - ceil(t*s) + 1`` shingles in that order: two sets with
    Jaccard >= t must overlap in >= t/(1+t)*(|A|+|B|) elements, so
    skipping more than p-1 of a doc's rarest shingles cannot leave
    enough overlap — any qualifying pair still collides on some
    indexed prefix token (lossless). At t=0.8 the index holds ~20%
    of each doc's shingles, and those are its RAREST ones — the
    head-of-Zipf shingles that drive the quadratic blowup never
    enter the join.

    A length filter (t*|A| <= |B|) prunes candidates before the
    exact verification join recomputes the full intersection for
    surviving pairs only.

    Scale shape: one vocab-sized groupBy for document frequencies, a
    global rank over the vocab (zipWithIndex-free: dense row_number
    over a Zipf-bounded table), the prefix self-join keyed on rare
    shingles, then a verification join keyed on the candidate pair.
    No full-index self-join ever forms.
    """
    # the shingle table feeds four plan legs (sizes, vocab, the
    # prefix build, and both sides of the verification join).
    # MEASURED tradeoff at sf0.1: leaving it lazy (exchange reuse
    # dedupes the identical shuffles) beats checkpoint_partitioned
    # materialization 3.3 s vs 3.7 s — recompute is cheaper than the
    # write at local corpus scale, the same conclusion as
    # similarity.semantic_dedup's persist experiment. At 100 TB,
    # write the shingle table once (sources/layout.write_bucketed on
    # "shingle") and pass it in pre-bucketed instead.
    sh = shingle_table(df, text_col, id_col, n, repartition=repartition)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    from pyspark.sql import Window

    vocab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # canonical total order: (df asc, shingle asc). No global rank
    # table is needed — the prefix selection only orders each doc's
    # OWN shingles, so a doc-partitioned window over the joined
    # document frequencies suffices (shuffle keyed by doc, no
    # single-partition global sort anywhere).
    # prefix length p = s - ceil(t*s) + 1 in EXACT integer arithmetic:
    # float ceil(lit(t)*s) can land one ULP above an exact-integer
    # t*s and overshoot, shortening the prefix below the AllPairs
    # bound (ADVICE r3). The decimal the caller wrote (str(threshold))
    # becomes a rational num/den; ceil(num*s/den) is then
    # (num*s + den - 1) div den — integer-exact in any engine.
    # limit_denominator bounds num so num*sz stays far from int64
    # even for thresholds like 2/3 whose repr yields a 16-digit
    # numerator (it recovers the intended 2/3 exactly); num <= 10^6
    # keeps num*sz exact for any sz < 9*10^12 shingles.
    from fractions import Fraction

    frac = Fraction(str(threshold)).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    pref_len = (
        F.col("sz")
        - F.expr(f"(({num} * sz + {den - 1}) div {den})")
        + 1
    )
    prefix = (
        sh.join(vocab, "shingle")
        .join(sizes, id_col)
        .withColumn(
            "__pos",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.col("__df").asc(), F.col("shingle").asc()
                )
            ),
        )
        .where(F.col("__pos") <= pref_len)
        .select(id_col, "shingle", "sz")
    )
    pa = prefix.select(
        F.col(id_col).alias("a"), F.col("shingle"), F.col("sz").alias("sz_a")
    )
    pb = prefix.select(
        F.col(id_col).alias("b"), F.col("shingle"), F.col("sz").alias("sz_b")
    )
    cands = (
        pa.join(pb, "shingle")
        .where(
            (F.col("a") < F.col("b"))
            # length filter: t*max(sz) <= min(sz) is necessary for
            # J >= t — stated with the SAME num/den rational as the
            # prefix bound (num*max <= den*min) so one exact
            # threshold governs prefix, length filter, and verify
            # (ADVICE r4: float t here vs rational t in the prefix
            # were two slightly different numbers).
            & (F.lit(num) * F.greatest("sz_a", "sz_b")
               <= F.lit(den) * F.least("sz_a", "sz_b"))
        )
        .select("a", "b", "sz_a", "sz_b")
        .distinct()
    )
    # exact verification: full intersection for surviving pairs only
    inter = (
        cands.join(sh.select(F.col(id_col).alias("a"), "shingle"), "a")
        .join(sh.select(F.col(id_col).alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        # verify in the same exact rational arithmetic as the prefix
        # bound: inter/union >= num/den <=> den*inter >= num*union
        # (union > 0). One threshold, three stages (ADVICE r4).
        .where(
            F.lit(den) * F.col("inter")
            >= F.lit(num) * (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .select("a", "b", "jaccard")
    )


def substitution_neighbors(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id_a, id_b, diff_pos): every pair of rows whose ``text_col``
    values are the SAME length and differ in EXACTLY one character
    position (substitution distance 1 — which for equal lengths is
    also Levenshtein distance 1, since a single insert or delete
    would change the length). The typo-tolerant entity-resolution
    join the token/shingle dedup family cannot express: MinHash/
    SimHash/Jaccard all see "Customer#000000123" and
    "Customer#000000124" as near-identical TOKEN sets only if
    tokenization splits them — character-level edits need a
    character-level method.

    Method — positional delete-1 signatures (the SymSpell/FastSS
    symmetric-delete scheme): each string emits L signatures
    (position i, string with char i removed); two equal-length
    strings differ exactly at position i iff they collide on
    signature i. Each qualifying pair therefore meets on EXACTLY ONE
    signature — no candidate dedup pass, no verification scan, and
    the differing position falls out as the join key. A prefix/suffix
    blocking scheme would degenerate on shared-prefix corpora (every
    "Customer#..." lands in one block -> a quadratic block); delete
    signatures block on ALL of the string except one char, so block
    size is the number of true near-duplicates, independent of how
    much prefix the corpus shares.

    Scale shape: the signature table is |rows| x L (emitted JVM-side:
    sequence + transform + explode, no Python); the self-join keys on
    (position, signature) — an equi shuffle whose group sizes are
    true-duplicate cluster sizes; id_a < id_b keeps each pair once.
    A same-position signature GROUP of identical strings would pair
    every two of them at every position — the strict inequality on
    the differing character (compared as join residual) drops
    distance-0 pairs, so duplicated texts never flood the output.
    """
    s = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
        F.length(text_col).alias("__len"),
    ).where(F.col(text_col).isNotNull() & (F.length(text_col) >= 1))
    sigs = s.select(
        "__id",
        "__t",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("__len")),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat(
                        F.col("__t").substr(F.lit(1), i - 1),
                        F.col("__t").substr(i + 1, F.col("__len") - i),
                    ).alias("sig"),
                ),
            )
        ).alias("__s"),
    ).select(
        "__id", "__t", F.col("__s.pos").alias("pos"), F.col("__s.sig").alias("sig")
    )
    a = sigs.select(
        F.col("__id").alias("id_a"), F.col("__t").alias("__ta"), "pos", "sig"
    )
    b = sigs.select(
        F.col("__id").alias("id_b"), F.col("__t").alias("__tb"), "pos", "sig"
    )
    return (
        a.join(b, ["pos", "sig"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            # drop distance-0 collisions (identical texts share every
            # signature); equal length is implied by equal sig length
            & (
                F.col("__ta").substr(F.col("pos"), F.lit(1))
                != F.col("__tb").substr(F.col("pos"), F.lit(1))
            )
        )
        .select("id_a", "id_b", F.col("pos").alias("diff_pos"))
    )


def near_dedup_pipeline(
    df: DataFrame,
    threshold_pct: int = 80,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The COMPLETE near-duplicate deduplication pipeline a corpus
    curation run actually executes, composed end-to-end from the
    operators this module already ships (each independently
    oracle-checked as q37/q36/q129):

      1. MinHash-LSH banding proposes candidate pairs
         (``minhash_lsh_pairs`` — candidates only form inside a
         band bucket, never all-pairs);
      2. candidates are VERIFIED with exact shingle-set Jaccard —
         the threshold test is the integer cross-multiplication
         ``100 * |A∩B| >= threshold_pct * |A∪B|`` (no float Jaccard
         is ever compared, so engines agree exactly). A candidate
         pair sharing zero shingles (a pure banding coincidence)
         drops out of the inner intersection join, which IS the
         correct verdict (Jaccard 0);
      3. verified pairs become edges of the duplicate graph;
         ``connected_components_star`` resolves clusters in
         O(log^2 n) rounds (duplicate clusters are transitive
         closures, not pairs);
      4. the minimum doc id of each cluster is elected canonical.

    Returns (id, cluster, kept) for EVERY input document: cluster is
    the canonical id (self when unduplicated), kept is true exactly
    once per cluster — filtering on kept yields the deduplicated
    corpus; grouping on cluster yields the duplicate report.

    Scale shape: candidate volume is bounded by band-bucket
    co-occupancy (the LSH contract); verification cost is
    sum over candidate pairs of |A| via two shingle equi-joins —
    never a corpus self-join; the CC input is only the verified
    pairs. Every stage is the already-pinned plan of its operator."""
    cands = minhash_lsh_pairs(df, num_hashes, bands, text_col, id_col, n)
    sh = shingle_table(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    xa = sh.select(F.col(id_col).alias("a"), "shingle")
    xb = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        cands.join(xa, "a")
        .join(xb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("__sz").alias("__sa"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("__sz").alias("__sb"))
    verified = (
        inter.join(sa, "a")
        .join(sb, "b")
        .where(
            F.lit(100) * F.col("__i")
            >= F.lit(int(threshold_pct))
            * (F.col("__sa") + F.col("__sb") - F.col("__i"))
        )
        .select("a", "b")
    )
    labels = connected_components_star(verified, src="a", dst="b")
    return (
        df.select(F.col(id_col))
        .join(labels.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster"),
            (
                F.col(id_col)
                == F.coalesce(F.col("component"), F.col(id_col))
            ).alias("kept"),
        )
    )
