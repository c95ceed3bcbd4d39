"""Exact substring dedup via distributed prefix-doubling (the
suffix-array route of Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better", re-expressed as DataFrame rounds).

``duplicate_ngram_spans`` (operators/dedup.py) flags positions whose
md5-hashed n-gram repeats — one shuffle, but (a) hash collisions can
in principle merge distinct grams and (b) the shuffle ships an
md5 per corpus position. This module is the collision-FREE variant
built on the classic suffix-array construction idea:

  * round 0: give every distinct token an id (the rank);
  * round k: the rank of the 2^k-token block at position p is the
    id of the PAIR (rank_{k-1}[p], rank_{k-1}[p + 2^(k-1)]) —
    Karp-Miller-Rosenberg / prefix doubling. Two equal block ranks
    mean the underlying token blocks are IDENTICAL, by induction, with
    no hashing anywhere.
  * a substring of arbitrary length L >= 2^k is compared with the
    standard overlapping trick: (rank_k[p], rank_k[p + L - 2^k]) with
    2^k the largest power of two <= L.

Rank representation (OPTIMIZATION_r12): downstream only ever compares
ranks for EQUALITY — the operators' outputs are per-doc counts of
duplicated positions, never rank values — so the rank does not need
to be a dense 0..n-1 integer (the original dict_encode route: one
range repartition + a driver offset collect + a second execution per
round). Any injective key -> id map works; the MINIMUM occurrence
(id, pos) struct of each key is such a map (the same canonical-
representative trick connected components uses), computable with ONE
groupBy and ONE co-partitioned join back per round, no driver sync.
"Past the document end" is a NULL rank (structs with null fields
group together, so truncated blocks still compare equal exactly when
their real prefixes do).

Scale shape: ceil(log2(L)) rounds, each = one checkpointed
repartition by the fixed-width rank-pair key, one partial-aggregated
groupBy and one zero-exchange join on that layout, plus one
positional self-equi-join on (doc, pos) — every shuffle is keyed by
(doc, pos) or by the rank pair; nothing ever ships L-token strings
and nothing touches the driver. Hot keys (stop-word tokens in round
0) ride the groupBy's map-side partial aggregation; the join-back
fans the rank out to occurrences within the key's partition, the
same per-key locality the previous sort-merge join had. For L=16
that is 5 rounds; the hashed n-gram pass is 1 round — this is the
exactness-for-rounds tradeoff, and why both operators exist.

Reference: Lee et al. 2022 §4.1 (ExactSubstr); Karp-Miller-Rosenberg
1972 for the doubling construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.audit import checkpoint_partitioned
from .dedup import normalize_text, span_coverage, spread


def _rep_rank(
    df: DataFrame,
    key_col: str,
    id_col: str,
    rank_col: str,
    min_count: int = 1,
) -> DataFrame:
    """(key -> min struct(id, pos) over the key's occurrences): an
    injective key -> rank map (distinct keys get distinct minimum
    occurrences). ``min_count`` drops keys occurring fewer times — the
    survivor pruning of the doubling rounds, folded into the same
    groupBy. ``df`` should already be partitioned by ``key_col`` (the
    callers checkpoint that layout) so both this groupBy and the join
    back are exchange-free."""
    agg = df.groupBy(key_col).agg(
        F.min(
            F.struct(F.col(id_col).alias("__ri"), F.col("pos").alias("__rp"))
        ).alias(rank_col),
        F.count(F.lit(1)).alias("__cnt"),
    )
    if min_count > 1:
        agg = agg.where(F.col("__cnt") >= min_count)
    return agg.select(key_col, rank_col)


def token_rank_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition: int | bool | None = None,
) -> DataFrame:
    """(id, pos, r): rank of each token occurrence (equality <=> same
    token), position 0-based within its (normalized) document —
    round 0 of ``prefix_doubling_ranks``, materialized and keyed by
    (id, pos). The rank column ``r`` is a min-occurrence
    struct(__ri, __rp) REPRESENTATIVE, not a dense integer: downstream
    consumers may only compare it for EQUALITY (the dict_encode
    dense-rank contract was retired in OPTIMIZATION_r12; use
    dict_encode directly if you need dense integer ids)."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    toks = checkpoint_partitioned(
        spread(df, repartition).select(
            F.col(id_col), F.posexplode(words).alias("pos", "__tok")
        ),
        "__tok",
    )
    vocab = _rep_rank(toks, "__tok", id_col, "r")
    return checkpoint_partitioned(
        toks.join(vocab, "__tok").select(id_col, "pos", "r"), id_col, "pos"
    )


def _rank_at_offset(ranks: DataFrame, id_col: str, offset: int):
    """ranks joined to itself at ``pos + offset`` (left; NULL rank when
    the offset runs past the document end)."""
    shifted = ranks.select(
        F.col(id_col),
        (F.col("pos") - offset).alias("pos"),
        F.col("r").alias("__r2"),
    )
    return ranks.join(shifted, [id_col, "pos"], "left").select(
        F.col(id_col), "pos", "r", F.col("__r2")
    )


def prefix_doubling_ranks(
    ranks: DataFrame,
    rounds: int,
    id_col: str = "doc_id",
    prune_unique: bool = False,
    return_rounds: bool = False,
) -> DataFrame | list[DataFrame]:
    """Iterate rank doubling: after ``rounds`` rounds, ``r`` is the
    rank of the 2^rounds-token block starting at each position — rank
    equality <=> block equality (blocks running past the document end
    rank by their truncated prefix). Input is round 0, the token ranks
    as ``token_rank_table`` returns them (materialized, keyed by
    (id, pos)).

    ITERATIVE operator policy (same as pagerank/connected_components):
    each round materializes two checkpoints — the pair table keyed by
    the rank-pair key (the rank groupBy and the join back share that
    one layout, zero further exchanges), and the re-ranked output
    keyed by (id, pos), which the positional self-join of the next
    round reuses. Without the checkpoints every round would replay
    all prior rounds, turning O(log L) rounds into quadratic (and,
    with AQE re-coalescing per execution, NONdeterministic) recompute.

    ``prune_unique=True`` is the scale mode used by
    ``exact_substring_duplicates``: a position whose 2^k-block rank is
    globally unique can never be part of a duplicated longer block, so
    it is dropped from later rounds (and positions whose block would
    run past the document end are dropped rather than ranked by
    truncated prefix). On real corpora the survivor set collapses
    within a few rounds — round tables SHRINK while block length
    doubles, which is what keeps the pass linear-ish at 100 TB.
    In pruned mode the post-round-k table holds EXACTLY the positions
    whose full 2^k-token block occurs >= 2 times corpus-wide (all
    occurrences of a duplicated block have duplicated components, so
    none are lost to earlier pruning) — ``return_rounds=True`` exposes
    the per-round tables for length-distribution diagnostics.

    Storage note: each round's checkpoint stays materialized for the
    session (the standard ITERATIVE pattern here — pagerank and
    connected_components behave the same). A long-lived session
    running many passes should use a reliable checkpoint dir with
    periodic cleanup instead of localCheckpoint.

    Round layouts are sized to the FRAME, not the core count: both of
    a round's checkpoints are sized from the previous round's
    materialized ranks, so the shrinking survivor tables of pruned mode
    stop paying core-count-wide scheduling per job."""
    round_tables: list[DataFrame] = []
    for k in range(rounds):
        joined = _rank_at_offset(ranks, id_col, 1 << k)
        if prune_unique:
            joined = joined.where(F.col("__r2").isNotNull())
        # checkpoint the pair table PARTITIONED BY KEY: the rank
        # groupBy and the join back both reuse that layout, so the
        # round's only other exchanges are the positional self-join
        # and the (id, pos) repartition for the next round
        paired = checkpoint_partitioned(
            joined.withColumn("__key", F.struct("r", "__r2")).select(
                id_col, "pos", "__key"
            ),
            "__key",
            size_from=ranks,
        )
        # min_count=2 folds survivor pruning into the rank-vocabulary
        # groupBy (one pass); the inner join back then drops unique
        # positions automatically
        vocab = _rep_rank(
            paired, "__key", id_col, "__nr",
            min_count=2 if prune_unique else 1,
        )
        ranks = checkpoint_partitioned(
            paired.join(vocab, "__key").select(
                id_col, "pos", F.col("__nr").alias("r")
            ),
            id_col,
            "pos",
            size_from=ranks,
        )
        if return_rounds:
            round_tables.append(ranks)
    return round_tables if return_rounds else ranks


def exact_substring_duplicates(
    df: DataFrame,
    min_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition: int | bool | None = None,
) -> DataFrame:
    """Per-doc duplicated-substring diagnostics, EXACT at token
    granularity: a position is flagged iff its ``min_len``-token
    substring occurs at least twice in the corpus (any document,
    including its own — Lee et al.'s occurrence counting). Output
    schema matches ``duplicate_ngram_spans``:
    (id, n_tokens, n_grams, n_dup_grams, n_dup_spans, dup_tokens,
    dup_token_ratio), with n_grams = the number of length-min_len
    windows.
    """
    if min_len < 1:
        raise ValueError("min_len must be >= 1")
    base_rounds = (min_len - 1).bit_length()  # largest 2^k <= min_len
    if (1 << base_rounds) > min_len:
        base_rounds -= 1
    block = 1 << base_rounds

    # one corpus scan: every doc's token count falls out of the round-0
    # rank table (positions are dense, split() yields >= 1 token for
    # any text), so no second scan/explode is needed for the per-doc
    # base stats
    r0 = token_rank_table(df, text_col, id_col, repartition=repartition)
    base = r0.groupBy(id_col).agg((F.max("pos") + 1).alias("n_tokens"))

    ranks = prefix_doubling_ranks(r0, base_rounds, id_col, prune_unique=True)
    # substring-of-length-min_len key: block ranks at pos and at
    # pos + min_len - block (overlapping windows cover exactly
    # [pos, pos + min_len)). No doc-length filter is needed in either
    # branch: pruned-mode rank tables hold only FULL blocks, so a
    # surviving window's trailing block ending at pos + min_len is
    # inside the document by construction (and with min_len == 1 there
    # are no rounds, but every 1-token window is trivially full).
    if min_len == block:
        keyed = ranks.select(
            id_col, "pos", F.struct("r", F.col("r").alias("__r2")).alias("__key")
        )
    else:
        # a NULL trailing rank means the trailing block was pruned
        # (unique) or truncated — the window cannot repeat
        keyed = (
            _rank_at_offset(ranks, id_col, min_len - block)
            .where(F.col("__r2").isNotNull())
            .select(id_col, "pos", F.struct("r", "__r2").alias("__key"))
        )

    dup_keys = (
        keyed.groupBy("__key")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .where(F.col("__occ") >= 2)
        .select("__key")
    )
    dup_pos = keyed.join(dup_keys, "__key").select(id_col, "pos")
    cov = span_coverage(dup_pos, id_col=id_col, n=min_len)
    return base.join(cov, id_col, "left").select(
        id_col,
        "n_tokens",
        F.greatest(F.col("n_tokens") - (min_len - 1), F.lit(0)).alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_token_ratio"),
    )


def dup_length_profile(
    df: DataFrame,
    max_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition: int | bool | None = None,
) -> DataFrame:
    """Per-doc duplicated-substring LENGTH distribution (the Lee et
    al. 2022 diagnostic behind choosing a dedup threshold): for each
    power-of-two block length 2..max_len, how many of the document's
    positions start an exactly-duplicated full block of that length.
    Output: (id, n_tokens, dup_at_2, dup_at_4, ..., dup_at_max_len);
    columns are cumulative-in-length (a duplicated 16-block implies
    duplicated 8-blocks), so the falloff across columns IS the length
    histogram. Collision-free: counts come from the pruned
    prefix-doubling round tables, not hashes."""
    if max_len < 2 or max_len & (max_len - 1):
        raise ValueError("max_len must be a power of two >= 2")
    rounds = max_len.bit_length() - 1
    r0 = token_rank_table(df, text_col, id_col, repartition=repartition)
    out = r0.groupBy(id_col).agg((F.max("pos") + 1).alias("n_tokens"))
    tables = prefix_doubling_ranks(
        r0, rounds, id_col, prune_unique=True, return_rounds=True
    )
    for k, t in enumerate(tables, start=1):
        col = f"dup_at_{1 << k}"
        cnt = t.groupBy(id_col).agg(F.count(F.lit(1)).alias(col))
        out = out.join(cnt, id_col, "left").withColumn(
            col, F.coalesce(col, F.lit(0).cast("long"))
        )
    return out
