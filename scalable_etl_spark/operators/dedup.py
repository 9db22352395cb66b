"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, and embedding-cosine near-dup.

All operators are pure DataFrame compositions (no Python UDFs) built on
the deterministic md5-derived hash family in functions/text.py, so the
DuckDB oracle can replay signatures bit-for-bit.

Scale notes (100 TB):
- exact dedup = one hash aggregation on a 64-char key — one shuffle.
- n-gram Jaccard is the *verification* primitive: it self-joins on
  shingles and is quadratic within a shingle bucket. At scale it must
  only run on candidate pairs from LSH, never the full corpus.
- MinHash+LSH is the scale path: cost = rows x num_perms (map-side) +
  one shuffle on band keys; near-dup pairs surface without any
  all-pairs comparison.
- SimHash bands (4 x 15 bits) guarantee recall for hamming <= 3 by
  pigeonhole while keeping the join equi-key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    content_hash,
    mix_hash_spark_sql,
    normalized_text,
    portable_hash64,
    tokens,
    word_shingles_text,
)
from ..tables import quote_ident

# ---------------------------------------------------------------- exact


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by sha256(normalized text): one row per distinct content,
    keeping the smallest id as the canonical representative."""
    return (
        df.select(F.col(id_col), content_hash(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct normalized content."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ------------------------------------------------------- shingle common


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingle) exploded table of distinct k-word shingles.

    Uses the single-regex-pass shingle builder (codegen) — the
    higher-order-function spelling evaluates interpreted and was the
    measured hot spot of every shingle-based dedup query."""
    return df.select(
        F.col(quote_ident(id_col)),
        F.explode(word_shingles_text(text_col, k)).alias("shingle"),
    )


def shingle_hash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, h): portable 60-bit hashes of the distinct k-word shingles.

    Every downstream join/count/sort operates on the hash, never the
    string — shuffles move (long, long) rows instead of docs' worth of
    40-char shingle text, and sort keys compare in one instruction.
    The oracle computes the identical hash, so both engines agree even
    in the (2^-60) collision case."""
    qid = F.col(quote_ident(id_col))
    return df.select(
        qid,
        F.explode(word_shingles_text(text_col, k)).alias("shingle"),
    ).select(qid, portable_hash64(F.col("shingle")).alias("h"))


# ------------------------------------------------- n-gram Jaccard (exact)


def _suffix_ham_lb(x, y, xl, xr, yl, yr, depth):
    """Lower bound on |X Δ Y| (hamming distance between sets) for the
    sorted slices x[xl:xr], y[yl:yr] — the divide-and-conquer probe of
    the PPJoin+ suffix filter (Xiao et al. 2008 §4, public algorithm).

    Partition both sets at y's median w: the symmetric difference
    decomposes exactly into (<w) + (w itself) + (>w) parts, so bounds
    on the parts ADD. At depth 0 the bound is abs(size difference) —
    always <= the true hamming distance, hence pruning on it is
    LOSSLESS. Cost per pair is O(2^depth * log n), constant-bounded;
    tests/test_dedup_properties.py proves lb <= true hamming by
    hypothesis."""
    from bisect import bisect_left

    nx, ny = xr - xl, yr - yl
    if nx == 0 or ny == 0:
        return nx + ny
    if depth == 0:
        return abs(nx - ny)
    mid = yl + ny // 2
    w = y[mid]
    i = bisect_left(x, w, xl, xr)
    found = 1 if (i < xr and x[i] == w) else 0
    return (
        _suffix_ham_lb(x, y, xl, i, yl, mid, depth - 1)
        + _suffix_ham_lb(x, y, i + found, xr, mid + 1, yr, depth - 1)
        + (1 - found)
    )


def suffix_ham_lb_pandas(a, b, depth: int = 4):
    """Arrow-batched suffix-filter probe: per pair of sorted hash
    arrays, a lower bound on their set-hamming distance (see
    ``_suffix_ham_lb``). Rows are candidate PAIRS (already prefix- and
    positionally-filtered), so the batch is small; the probe replaces a
    full O(n) intersection with an O(2^depth log n) touch for the pairs
    it prunes."""
    import numpy as np
    import pandas as pd

    from ..functions.arrow import arrow_udf

    def _lb(sa: "pd.Series", sb: "pd.Series") -> "pd.Series":
        out = np.empty(len(sa), dtype=np.int32)
        for i, (x, y) in enumerate(zip(sa, sb)):
            xs, ys = list(x), list(y)
            out[i] = _suffix_ham_lb(xs, ys, 0, len(xs), 0, len(ys), depth)
        return pd.Series(out)

    udf = arrow_udf(_lb, "int")
    return udf(a, b)


# Skew heuristics for ngram_jaccard_pairs' auto mode: estimated
# document frequency of the hottest shingle, and mean rows per distinct
# shingle, above which the window-on-h document-frequency spelling is
# abandoned for the AQE-skew-safe groupBy+join spelling. Windows never
# partially aggregate — every row of a hot key lands in ONE task — while
# groupBy collapses hot keys map-side and a skewed equi-join is split by
# AQE at runtime.
_SKEW_MAX_DF = 4096
_SKEW_AVG_FANOUT = 64.0


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_shingle_fanout: int | None = None,
    prefix_filter: bool = True,
    suffix_filter: bool = True,
    skew_safe: bool | None = None,
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs over distinct k-word shingle
    sets, with prefix filtering (ALL-Pairs / PPJoin, Xiao et al. 2008,
    public algorithm): order shingles globally rarest-first; any pair
    with J >= t shares >= t*max(|a|,|b|) shingles, so each doc's first
    |s| - ceil(t*|s|) + 1 shingles in that order must contain a common
    one. Only those (rare) prefix shingles are indexed -> candidate
    generation cost collapses from sum(df^2) over ALL shingles to the
    rare tail, with zero recall loss. A size-ratio filter
    (t*max <= min) prunes further before exact verification.

    ``suffix_filter`` (default on) adds the PPJoin+ suffix probe on the
    surviving candidates: a depth-bounded divide-and-conquer lower
    bound on set-hamming distance, pruning pairs before the exact
    intersection — see ``_suffix_ham_lb``. Both filters are LOSSLESS.

    ``prefix_filter=False`` falls back to the plain inverted-index
    self-join; ``max_shingle_fanout`` optionally drops ultra-hot
    shingles there (LOSSY — only sane for verification of LSH
    candidates where the hot shingle carries no signal).

    ``skew_safe`` selects the document-frequency spelling: ``False`` =
    window over the shingle hash (fastest when hashes are near-unique;
    a window never partially aggregates, so a hot shingle serializes
    into one task), ``True`` = groupBy + equi-join back (hot keys
    collapse map-side; AQE splits the skewed join at runtime — the
    100 TB-safe spelling, measured 2x slower at sf0.1 where no skew
    exists). ``None`` (default) AUTO-SELECTS via one exact groupBy
    probe (itself skew-safe through partial aggregation): flips to the
    groupBy spelling when the hottest shingle's document frequency
    exceeds ``_SKEW_MAX_DF`` or mean fanout exceeds
    ``_SKEW_AVG_FANOUT``. The probe runs one Spark job at plan-build
    time — pass ``skew_safe`` explicitly to keep plan construction
    lazy. Both spellings return identical rows.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    from pyspark.sql import Window

    sh = shingle_hash_table(df, text_col, id_col, k)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("set_size"))

    if prefix_filter:
        if skew_safe is None:
            # Skew probe: ONE exact aggregation pass — groupBy the
            # shingle hash (itself skew-safe: partial aggregation
            # collapses hot keys map-side, so the probe cannot hit the
            # problem it is detecting) and reduce to (max df, total,
            # distinct). Exact, so no sampling-estimator pitfalls (a
            # sampled max does NOT scale by 1/fraction — the earlier
            # spelling falsely flagged any large healthy corpus).
            # Cost: one extra job over the shingle table at plan-build
            # time; callers that know their corpus pass skew_safe
            # explicitly and skip it.
            stats = (
                sh.groupBy("h")
                .agg(F.count("*").alias("__c"))
                .agg(
                    F.max("__c").alias("mx"),
                    F.sum("__c").alias("tot"),
                    F.count("*").alias("nh"),
                )
                .first()
            )
            mx = stats["mx"] or 0
            avg = (stats["tot"] or 0) / max(stats["nh"] or 1, 1)
            skew_safe = mx > _SKEW_MAX_DF or avg > _SKEW_AVG_FANOUT
        # Document frequency: window over h, or groupBy+join when skew-
        # safe. Per-doc size/rank stay windows either way (keyed by doc
        # id — bounded by a document's shingle count, never corpus-hot).
        # MEASURED ALTERNATIVES (sf0.1, local[32]): groupBy("h")+join-
        # back 2x slower (4.4s vs 2.2s median — the extra two-stage agg
        # + join outweighs the missing map-side combine at ~260k rows),
        # explicit broadcast(dfreq) 2-8x slower (driver collect +
        # rebroadcast of a ~260k-row table beats the shuffle it saves
        # only at much larger shingle cardinality). Shingle hashes are
        # md5-derived and near-unique in healthy corpora, so the window
        # wins there; the auto probe exists for the degenerate corpus
        # where it wouldn't.
        if skew_safe:
            dfreq = sh.groupBy("h").agg(F.count("*").alias("__df"))
            based = sh.join(dfreq, "h")
        else:
            w_sh = Window.partitionBy("h")
            based = sh.withColumn("__df", F.count("*").over(w_sh))
        w_doc = Window.partitionBy(id_col)
        w_rank = Window.partitionBy(id_col).orderBy(
            F.col("__df").asc(), F.col("h").asc()
        )
        ranked = (
            based.withColumn("set_size", F.count("*").over(w_doc))
            .withColumn("__rk", F.row_number().over(w_rank))
            .filter(
                F.col("__rk")
                <= F.col("set_size")
                - F.ceil(F.lit(threshold) * F.col("set_size"))
                + 1
            )
            .select(id_col, "h", "set_size", "__rk")
        )
        a = ranked.alias("a")
        b = ranked.alias("b")
        # GROUP-LEVEL positional filter (PPJoin): both docs' shingles
        # are sorted by the SAME global rarity order, so every
        # intersection element <= the pair's LARGEST prefix match is
        # itself a prefix match of both docs (anything smaller than a
        # prefix member ranks earlier, hence inside both prefixes).
        # With m = count of prefix matches and (rka, rkb) the ranks of
        # the largest one, true overlap <= m + min(|a|-rka, |b|-rkb);
        # if that misses alpha = ceil(t/(1+t) * (|a|+|b|)) the pair
        # cannot reach Jaccard >= t — dropping it is LOSSLESS, and the
        # bound is strictly tighter than the classic per-match
        # min(|a|-rk, |b|-rk)+1 form. The groupBy replaces the
        # .distinct() the per-match spelling needed — same shuffle.
        alpha = F.ceil(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("size_a") + F.col("size_b"))
        )
        cand = (
            a.join(b, "h")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .filter(
                F.lit(threshold)
                * F.greatest(F.col("a.set_size"), F.col("b.set_size"))
                <= F.least(F.col("a.set_size"), F.col("b.set_size"))
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.set_size").alias("size_a"),
                F.col("b.set_size").alias("size_b"),
            )
            .agg(
                F.count("*").alias("__m"),
                F.max("a.__rk").alias("__rka"),
                F.max("b.__rk").alias("__rkb"),
            )
            .filter(
                F.col("__m")
                + F.least(
                    F.col("size_a") - F.col("__rka"),
                    F.col("size_b") - F.col("__rkb"),
                )
                >= alpha
            )
            .select("id_a", "id_b", "size_a", "size_b")
        )
        # Cache the (tiny) candidate pair set, then pack sorted shingle
        # arrays for CANDIDATE docs only — the full corpus is never
        # re-exploded for verification.
        cand = cand.cache()
        cand_ids = (
            cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
            .distinct()
        )
        df_cand = df.join(F.broadcast(cand_ids), id_col, "left_semi")
        sets = (
            shingle_hash_table(df_cand, text_col, id_col, k)
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list("h")).alias("hs"))
        )
        pa = sets.select(F.col(id_col).alias("id_a"), F.col("hs").alias("ha"))
        pb = sets.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hb"))
        joined = cand.join(pa, "id_a").join(pb, "id_b")
        if suffix_filter:
            # Suffix filter (Xiao et al. 2008 §4): Jaccard >= t needs
            # overlap >= alpha, i.e. set-hamming <= |a|+|b|-2*alpha.
            # The depth-bounded partition probe lower-bounds that
            # hamming; pairs whose LOWER bound already exceeds the
            # allowance are pruned before paying the exact
            # array_intersect. Lossless (lb <= true hamming).
            hmax = F.col("size_a") + F.col("size_b") - F.lit(2) * alpha
            joined = joined.filter(
                suffix_ham_lb_pandas(F.col("ha"), F.col("hb")) <= hmax
            )
        return (
            joined.withColumn(
                "n_common", F.size(F.array_intersect("ha", "hb"))
            )
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_common")
                    / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                    4,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    if max_shingle_fanout is not None:
        hot = (
            sh.groupBy("h")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_shingle_fanout)
            .select("h")
        )
        join_sh = sh.join(F.broadcast(hot), "h", "left_anti")
    else:
        join_sh = sh
    a = join_sh.alias("a")
    b = join_sh.alias("b")
    inter = (
        a.join(b, "h")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def drop_near_duplicates(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Materialize the deduplicated corpus: greedy min-id keeper over
    MinHash near-dup pairs (id_a < id_b -> drop id_b).

    One anti-join against the pair table's b-side. Greedy-by-id is the
    standard large-scale policy (a full connected-components pass needs
    iterative joins); exact duplicates have Jaccard 1.0, so they are
    subsumed by any threshold <= 1. Chains collapse to their minimum id
    transitively: in a-b-c, b and c each appear as some pair's b-side."""
    pairs = minhash_lsh_pairs(
        df, num_perms=num_perms, bands=bands, threshold=threshold,
        text_col=text_col, id_col=id_col, k=k,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ----------------------------------------------- hot-bucket capped pairs

# Default per-(band,bucket) row cap for md5-keyed MinHash buckets.
# Measured corpus max bucket is 4 at sf0.1 (md5 band buckets collide
# only on genuine near-dup clusters), so at every tested SF the cap is
# inert and candidate generation is EXACT; it exists for the real-web
# degenerate case (empty/boilerplate docs hashing identically), where
# an uncapped bucket of n rows emits O(n^2) join output.
HOT_BUCKET_CAP = 1000


def capped_bucket_pairs(
    banded: DataFrame,
    keys: tuple[str, ...],
    id_col: str,
    max_bucket: int | None,
) -> DataFrame:
    """(id_a, id_b) candidate pairs from an LSH band table, quadratic
    blowup bounded per bucket.

    Buckets with <= ``max_bucket`` rows contribute EXACT all-pairs
    (identical to the plain self-join). An over-cap bucket of n rows
    contributes (a) all-pairs within a hash-sampled core of ~cap rows
    (every nth id by xxhash64, deterministic) and (b) a hub-star edge
    from EVERY remaining row to the bucket's min-id representative —
    O(cap^2 + n) candidates instead of O(n^2), while the star keeps
    the whole bucket connected through the hub, so a components /
    min-keeper reduction still collapses the cluster exactly. Pairs
    between two non-core rows of an over-cap bucket are the documented
    recall loss (standard practice for web-scale LSH dedup).

    Plan shape: ONE count+min aggregation over the band table
    (map-side combine), the tiny over-cap bucket list broadcast back
    (BroadcastHashJoin, no shuffle), star edges by pure projection —
    the self-join itself is the same equi-join as the uncapped
    spelling, so the normal path pays zero extra shuffles. Callers
    needing visibility into engaged caps can aggregate
    ``banded.groupBy(*keys).count().filter(col('count') > cap)`` —
    the same tiny frame this helper builds.
    """
    if max_bucket is None:
        a = banded.alias("a")
        b = banded.alias("b")
        return (
            a.join(b, list(keys))
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
        )
    hot = (
        banded.groupBy(*keys)
        .agg(
            F.count("*").alias("_n"),
            F.min(id_col).alias("_rep"),
        )
        .filter(F.col("_n") > max_bucket)
    )
    flagged = banded.join(F.broadcast(hot), list(keys), "left")
    in_core = (
        F.col("_n").isNull()
        | (F.col(id_col) == F.col("_rep"))
        | (
            F.pmod(
                F.xxhash64(F.col(id_col)),
                F.ceil(F.col("_n") / F.lit(max_bucket)).cast("long"),
            )
            == 0
        )
    )
    side = flagged.filter(in_core).select(*keys, id_col)
    a = side.alias("a")
    b = side.alias("b")
    core_pairs = (
        a.join(b, list(keys))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    star = flagged.filter(~in_core).select(
        F.least(F.col(id_col), F.col("_rep")).alias("id_a"),
        F.greatest(F.col(id_col), F.col("_rep")).alias("id_b"),
    )
    return core_pairs.unionAll(star)


def capped_probe_pairs(
    probe: DataFrame,
    index: DataFrame,
    keys: tuple[str, ...],
    id_col: str,
    hot: DataFrame,
    max_bucket: int,
) -> DataFrame:
    """Asymmetric variant of ``capped_bucket_pairs`` for INCREMENTAL
    maintenance: candidate (id_a, id_b) pairs from a wave's band rows
    (``probe``) equi-joining the accumulated ``index`` on bucket keys,
    with over-cap buckets bounded.

    ``hot`` lists the over-cap buckets as (keys..., n, rep) — n the
    bucket's population INCLUDING the wave, rep its min-id member.
    Crucially the caller supplies it from a MAINTAINED bucket-stats
    table (count deltas merged per wave), NOT from a per-wave count
    aggregation over the index — re-counting the index every wave
    would double the very scan the incremental design exists to
    avoid. ``hot`` is tiny by construction and broadcasts.

    Probe rows in a normal bucket join the full index (exact — the
    bucket holds <= max_bucket rows by definition). Probe rows in a
    hot bucket join only a deterministic hash-sampled core of ~cap
    index rows, plus one hub-star edge to ``rep`` (pure projection
    off the broadcast columns). Per hot bucket the wave's work is
    O(wave_rows x cap) instead of O(wave_rows x n)."""
    klist = list(keys)

    def _pairs(p: DataFrame, i: DataFrame) -> DataFrame:
        return (
            p.alias("p")
            .join(i.alias("i"), klist)
            .filter(F.col(f"p.{id_col}") != F.col(f"i.{id_col}"))
            .select(
                F.least(
                    F.col(f"p.{id_col}"), F.col(f"i.{id_col}")
                ).alias("id_a"),
                F.greatest(
                    F.col(f"p.{id_col}"), F.col(f"i.{id_col}")
                ).alias("id_b"),
            )
        )

    p_flag = probe.join(F.broadcast(hot), klist, "left")
    p_norm = p_flag.filter(F.col("n").isNull()).select(*klist, id_col)
    p_hot = p_flag.filter(F.col("n").isNotNull())
    core_idx = (
        index.join(F.broadcast(hot), klist)
        .filter(
            (F.col(id_col) == F.col("rep"))
            | (
                F.pmod(
                    F.xxhash64(F.col(id_col)),
                    F.ceil(F.col("n") / F.lit(max_bucket)).cast("long"),
                )
                == 0
            )
        )
        .select(*klist, id_col)
    )
    star = p_hot.filter(F.col(id_col) != F.col("rep")).select(
        F.least(F.col(id_col), F.col("rep")).alias("id_a"),
        F.greatest(F.col(id_col), F.col("rep")).alias("id_b"),
    )
    return (
        _pairs(p_norm, index)
        .unionAll(_pairs(p_hot.select(*klist, id_col), core_idx))
        .unionAll(star)
    )


# --------------------------------------------------------- MinHash + LSH


def _minhash_wide(
    df: DataFrame,
    num_perms: int,
    text_col: str,
    id_col: str,
    k: int,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """One row per doc with ``num_perms`` min-hash columns h0..h{n-1}.

    Shape: explode shingles ONCE, md5 each shingle ONCE to a 60-bit
    base, derive the ``num_perms`` permutation hashes by multiply-shift
    mixing (functions/text.py mix_hash — integer codegen, no further
    string hashing), then groupBy(id) with ``num_perms`` MIN aggregates. Map-side combine
    collapses each mapper's shingle rows to one narrow row per doc
    before the exchange, so the shuffle moves rows x num_perms longs —
    never the rows x shingles x perms cross product the naive
    (explode-everything, groupBy(id, perm)) spelling ships.
    """
    # ``shingle_hashes``: callers that ALSO materialize the (id, h)
    # shingle table (a persisted index build signs bands and shingles
    # from one frame) pass it in so the tokenize/explode/md5 pass runs
    # once, not once per consumer.
    sh = (
        shingle_hashes
        if shingle_hashes is not None
        else shingle_hash_table(df, text_col, id_col, k)
    )
    # selectExpr with pre-rendered strings: one parsed expression per
    # permutation instead of ~10 py4j round-trips each (the JVM plan is
    # identical — mix_hash_spark_sql is the same op/constant sequence).
    # id_col is quoted the same way in the projection and the grouping,
    # so a name needing quoting (space, dot, reserved word, backtick)
    # resolves to the one top-level column in both.
    qid = quote_ident(id_col)
    hashed = sh.selectExpr(
        qid,
        *[
            f"({mix_hash_spark_sql('h', p)}) AS h{p}"
            for p in range(num_perms)
        ],
    )
    return hashed.groupBy(F.col(qid)).agg(
        *[F.min(f"h{p}").alias(f"h{p}") for p in range(num_perms)]
    )


def minhash_signatures(
    df: DataFrame,
    num_perms: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """(id, perm, min_hash): MinHash signature rows.

    Uses the portable md5-derived hash family (seed = perm index) so
    signatures are engine-independent. See ``_minhash_wide`` for the
    one-shuffle aggregation shape."""
    wide = _minhash_wide(df, num_perms, text_col, id_col, k)
    return wide.select(
        F.col(quote_ident(id_col)),
        F.posexplode(
            F.array(*[F.col(f"h{p}") for p in range(num_perms)])
        ).alias("perm", "min_hash"),
    )


def minhash_band_table(
    df: DataFrame,
    num_perms: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH index rows for ``df`` — the PERSISTABLE
    half of MinHash dedup. Band buckets come straight off the wide
    signature row — zero extra shuffles beyond the one signature
    aggregation. The bucket string (md5 of the lexically sorted
    "perm:min_hash" list) is identical to the posexplode+collect_list
    spelling, so the DuckDB oracle's groupBy-based replay produces the
    same buckets bit-for-bit. ``incremental_minhash_index`` appends
    these rows per crawl wave so new docs only join the index on
    (band, bucket) — the corpus is never re-signed."""
    if num_perms < bands or num_perms % bands != 0:
        raise ValueError(
            f"num_perms ({num_perms}) must be a positive multiple of "
            f"bands ({bands})"
        )
    rows_per_band = num_perms // bands
    wide = _minhash_wide(
        df, num_perms, text_col, id_col, k, shingle_hashes
    )
    # one parsed SQL string instead of ~30 Column round-trips per band
    # (same expression tree after parsing — values are bit-identical)
    band_buckets = [
        "md5(array_join(array_sort(array("
        + ", ".join(
            f"concat_ws(':', '{p}', cast(h{p} as string))"
            for p in range(
                band * rows_per_band, (band + 1) * rows_per_band
            )
        )
        + ")), ','))"
        for band in range(bands)
    ]
    return wide.selectExpr(
        quote_ident(id_col),
        "posexplode(array("
        + ", ".join(band_buckets)
        + ")) AS (band, bucket)",
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_perms: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_bucket: int | None = HOT_BUCKET_CAP,
) -> DataFrame:
    """MinHash banding: docs sharing any band bucket become candidate
    pairs, then exact Jaccard verifies against ``threshold``.

    Returns (id_a, id_b, jaccard). rows_per_band = num_perms // bands.
    Buckets above ``max_bucket`` rows (degenerate boilerplate clusters;
    never reached on the tested corpora) fall back to hub-star + sampled
    core candidates — see ``capped_bucket_pairs``.
    """
    if num_perms < bands or num_perms % bands != 0:
        raise ValueError(
            f"num_perms ({num_perms}) must be a positive multiple of bands "
            f"({bands}) — otherwise the effective band width drifts from the "
            "requested recall guarantee"
        )
    banded = minhash_band_table(df, num_perms, bands, text_col, id_col, k)
    candidates = capped_bucket_pairs(
        banded, ("band", "bucket"), id_col, max_bucket
    ).distinct()
    # Verification explodes shingles for CANDIDATE docs only: the
    # broadcast semi-join prunes the corpus before the tokenize/explode
    # re-derivation, so the full-corpus shingle pass happens exactly
    # once (inside the signature build) no matter how many candidate
    # pairs surface. Candidate ids are tiny by construction (LSH
    # output), and the pair set is cached because it feeds BOTH the
    # broadcast id list and the verification join — without the cache
    # the whole signature+banding pipeline would execute twice.
    candidates = candidates.cache()
    cand_ids = (
        candidates.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
        .distinct()
    )
    df_cand = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    verified = verify_jaccard(
        shingle_hash_table(df_cand, text_col, id_col, k), candidates, id_col
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def verify_jaccard(
    sh: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for an explicit candidate-pair set — cost is
    O(candidate_pairs x shingles), never all-pairs. ``sh`` is a
    (id, h) shingle-hash table; ``pairs`` has (id_a, id_b).

    Shape: ONE groupBy packs each candidate doc's (distinct) shingle
    hashes into an array, then two equi-joins attach the arrays to the
    pair list and ``array_intersect`` computes the overlap inside
    codegen. Two shuffles + two AQE-sized joins total — the exploded
    spelling (join pairs x shingles on (id, h), groupBy pair, join
    sizes back twice) paid six shuffle stages for the same answer and
    measured ~2.5x slower at sf0.1. Arrays are bounded by per-doc
    shingle counts (document length), never corpus size, and only
    CANDIDATE docs are packed, so executor memory stays flat at 100 TB.
    """
    sets = sh.groupBy(id_col).agg(F.collect_list("h").alias("hs"))
    pa = sets.select(F.col(id_col).alias("id_a"), F.col("hs").alias("ha"))
    pb = sets.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hb"))
    return (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("ha") + F.size("hb") - F.col("n_common")),
                4,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------- SimHash

SIMHASH_BITS = 60  # 15 hex digits from the portable hash -> 60 usable bits
SIMHASH_BANDS = 4
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash over distinct tokens (unit weights).

    bit b of the signature is set iff #\\{tokens with bit b set\\} >
    #\\{tokens with bit b clear\\}.

    Shape: explode distinct tokens ONCE, hash each token (codegen),
    project the 60 per-bit votes as plain SUM-able columns, groupBy(id)
    with 60 SUM aggregates, then pack the sign bits. Map-side combine
    ships one 60-long row per doc per mapper — never the
    rows x tokens x 60 cross product of the (explode bits,
    groupBy(id, bit)) spelling, and never the interpreted-lambda cost
    of the array-fold spelling (higher-order functions skip codegen;
    measured slower than the explode it replaced)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    hashed = toks.select(id_col, portable_hash64(F.col("tok")).alias("h"))
    # pre-rendered SQL strings: the 60 vote exprs + the 60-term packing
    # sum were ~600 py4j round-trips of driver plan construction per
    # call as Column objects; the parsed plans (and values) are
    # identical
    votes = [
        f"CASE WHEN (h & {1 << b}L) != 0 THEN 1 ELSE -1 END AS v{b}"
        for b in range(SIMHASH_BITS)
    ]
    wide = (
        hashed.selectExpr(f"`{id_col}`", *votes)
        .groupBy(id_col)
        .agg(*[F.sum(f"v{b}").alias(f"s{b}") for b in range(SIMHASH_BITS)])
    )
    packed = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b}L ELSE 0L END)"
        for b in range(SIMHASH_BITS)
    )
    return wide.selectExpr(f"`{id_col}`", f"({packed}) AS simhash")


# 15-bit simhash band values collide by birthday on large corpora, so
# (unlike md5 minhash buckets) hot buckets are NORMAL here: sf0.1's
# 5,000 docs already have a 1,924-row bucket. The default cap sits
# above every tested-SF bucket (exact parity with the uncapped oracle
# replay) and engages only on the web-scale degenerate clusters the
# uncapped join cannot survive.
SIMHASH_BUCKET_CAP = 4096


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Banding on 4 x 15-bit slices: any pair within hamming 3 must agree
    on >= 1 band (pigeonhole), so the join stays equi-key; the xor
    popcount then verifies exactly. Returns (id_a, id_b, hamming).

    Measured density (sf0.1 corpus, round 5): 5,000 docs -> 2,840 band
    buckets (max bucket 1,924), 4.7M candidate pairs, 475,278 true
    pairs at hamming<=3 — a 10:1 candidate:true ratio. The output is
    inherently quadratic in near-dup cluster size; on a corpus with
    million-doc duplicate clusters, consume pairs via a
    connected-components/keeper reduction (see dedup_components /
    drop_near_duplicates) rather than materializing the pair list.

    Buckets above ``max_bucket`` rows switch to hub-star + sampled-core
    candidates (the ``capped_bucket_pairs`` scheme, inlined here so
    star edges carry the hub's SIGNATURE via min_by and the hamming
    verify plus the first-matching-band dedup filter stay row-local
    projections). Under an engaged cap, recall within an over-cap
    bucket is hub-connectivity + exact core pairs; pairs between two
    non-core rows whose FIRST shared band is over-cap are the
    documented loss."""
    sig = simhash_signatures(df, text_col, id_col)
    band_idx = F.explode(
        F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))
    ).alias("band")
    banded = sig.select(id_col, "simhash", band_idx).withColumn(
        "band_val",
        F.expr(f"(simhash >> (band * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1}"),
    )

    def _all_pairs(side: DataFrame) -> DataFrame:
        a = side.alias("a")
        b = side.alias("b")
        return (
            a.join(b, ["band", "band_val"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                "band",
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.simhash").alias("sh_a"),
                F.col("b.simhash").alias("sh_b"),
            )
        )

    if max_bucket is None:
        joined = _all_pairs(banded)
    else:
        hot = (
            banded.groupBy("band", "band_val")
            .agg(
                F.count("*").alias("_n"),
                F.min(id_col).alias("_rep"),
                F.min_by("simhash", id_col).alias("_rep_sh"),
            )
            .filter(F.col("_n") > max_bucket)
        )
        flagged = banded.join(
            F.broadcast(hot), ["band", "band_val"], "left"
        )
        in_core = (
            F.col("_n").isNull()
            | (F.col(id_col) == F.col("_rep"))
            | (
                F.pmod(
                    F.xxhash64(F.col(id_col)),
                    F.ceil(F.col("_n") / F.lit(max_bucket)).cast("long"),
                )
                == 0
            )
        )
        core = _all_pairs(
            flagged.filter(in_core).select(
                "band", "band_val", id_col, "simhash"
            )
        )
        # overflow rows star onto the hub: _rep is the bucket MIN id
        # (and rep is always core), so id_a/sh_a come straight off the
        # broadcast columns — no join, no shuffle
        star = flagged.filter(~in_core).select(
            "band",
            F.col("_rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.col("_rep_sh").alias("sh_a"),
            F.col("simhash").alias("sh_b"),
        )
        joined = core.unionAll(star)
    # A pair colliding in several bands would surface once per band; a
    # distinct() here would shuffle the whole (large) candidate stream.
    # Both signatures are already in hand, so dedup is a pure FILTER:
    # keep only the row whose band is the pair's FIRST matching band
    # (band slice of xor == 0) — exactly one survivor per pair, zero
    # extra shuffles.
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    mask = (1 << _BAND_BITS) - 1
    first_band = F.lit(SIMHASH_BANDS - 1)
    for bband in range(SIMHASH_BANDS - 2, -1, -1):
        first_band = F.when(
            F.shiftright(xor, bband * _BAND_BITS).bitwiseAND(F.lit(mask))
            == 0,
            F.lit(bband),
        ).otherwise(first_band)
    return (
        joined.filter(F.col("band") == first_band)
        .withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------ embedding near-dup


# Per-(table, bucket) row cap for the embedding near-dup gram matrix:
# 4096^2 doubles ~ 134 MB per Arrow group, the executor-memory guard.
# Measured corpus max bucket is 571 of 2,000 vectors at sf0.1 (7x
# headroom), so at every tested SF the cap is inert and scoring is
# EXACT; it engages only on degenerate corpora (e.g. thousands of
# identical vectors collapsing into one bucket in every table).
EMBEDDING_BUCKET_CAP = 4096


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lsh_bits: int = 2,
    n_tables: int = 8,
    dim: int | None = None,
    max_bucket: int = EMBEDDING_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate vectors by cosine >= threshold, bucketed by
    multi-table random-hyperplane sign-LSH (OR-construction) so each
    self-join is equi-key and recall is 1-(1-p^b)^L rather than p^b
    (p = 1 - theta/pi per plane; b=2/L=8 keeps recall ~0.98 even at
    theta ~ 65deg, vs ~0.5 for a single 8-bit table).

    Scale: rows explode x L into (table, bucket); per-table bucket
    population ~ |corpus| / 2^b — raise ``n_lsh_bits`` with corpus size
    to bound the per-bucket self-join. Exact variant: n_tables=1,
    n_lsh_bits=0 degrades to a single bucket (all pairs)."""
    import numpy as np
    import pandas as pd

    from ..functions.vectors import (
        EMBEDDING_DIM,
        as_double,
        multi_table_buckets_pandas,
    )

    # Shape: pair generation AND scoring live inside one grouped-map
    # applyInPandas over (table, bucket). At a moderate-cosine
    # threshold the OR-construction leaves most pairs as candidates
    # (sign-LSH's p1/p2 gap collapses as theta grows), so any plan that
    # materializes the candidate-pair stream JVM-side — self-join,
    # distinct, vector join-backs, per-pair Arrow scoring — moves
    # O(pairs) data; this one moves O(corpus x n_tables) rows into
    # Arrow and O(result) back. Inside a bucket the pairwise dots are
    # a per-dimension outer-product accumulation: one IEEE add per
    # dimension in index order, bit-identical to aggregate(zip_with)
    # and DuckDB's list_dot_product, so the oracle gate still holds
    # exactly. Norms fall out of the same matrix's diagonal.
    # Multi-table duplicates dedup via first-matching-table inside the
    # group (argmax over the pair's bucket-equality vector) — no
    # distinct shuffle anywhere.
    #
    # Scale: per-group memory is O(bucket^2) doubles — raise
    # ``n_lsh_bits`` with corpus size so buckets stay ~1e4; the JVM
    # groups stream through Arrow without collecting the corpus.
    d = dim or EMBEDDING_DIM
    id_field = next(f for f in emb.schema.fields if f.name == id_col)
    id_sql = id_field.dataType.simpleString()
    keyed = emb.select(
        F.col(id_col),
        as_double(vec_col).alias("v"),
        multi_table_buckets_pandas(vec_col, n_lsh_bits, n_tables, d).alias(
            "bks"
        ),
    ).select(
        id_col, "v", "bks", F.posexplode("bks").alias("tbl", "bucket")
    )
    # Pairs within 1e-6 of the threshold are returned raw and settled
    # by Spark-side F.round (HALF_UP, matching the previous spelling
    # and DuckDB ROUND) — numpy's banker's rounding never decides a
    # keep/drop.
    lo = threshold - 1e-6

    def _score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        empty = pd.DataFrame(
            {"id_a": pd.Series([], dtype=pdf[id_col].dtype),
             "id_b": pd.Series([], dtype=pdf[id_col].dtype),
             "cos_raw": pd.Series([], dtype=float)}
        )
        if n < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        B = np.stack(pdf["bks"].to_numpy()[order])
        tbl = int(pdf["tbl"].iat[0])
        if n > max_bucket:
            # Degenerate bucket: the full gram matrix is O(n^2)
            # doubles. Same scheme as capped_bucket_pairs — exact
            # all-pairs within a deterministic hash-sampled ~cap core
            # (min-id hub always included), plus one hub-star edge
            # per overflow row (one gram ROW, O(n x dim)). The cap is
            # inert on every tested corpus, so the oracle never sees
            # this branch.
            m = -(-n // max_bucket)  # ceil
            core = (pd.util.hash_array(ids) % m == 0)
            core[0] = True  # hub = min id (ids are sorted)
            idc, Vc, Bc = ids[core], V[core], B[core]
            nc = len(idc)
            acc = Vc @ Vc.T
            norms_c = np.sqrt(np.diag(acc))
            ia, ib = np.triu_indices(nc, 1)
            first = np.argmax(Bc[ia] == Bc[ib], axis=1)
            cos = acc[ia, ib] / (norms_c[ia] * norms_c[ib])
            keep = (first == tbl) & (cos >= lo)
            out = {
                "id_a": idc[ia[keep]],
                "id_b": idc[ib[keep]],
                "cos_raw": cos[keep],
            }
            over = ~core
            Vo, Bo = V[over], B[over]
            dots = Vo @ V[0]
            norms_o = np.sqrt((Vo * Vo).sum(axis=1))
            cos_s = dots / (norms_o * norms_c[0])
            first_s = np.argmax(B[0] == Bo, axis=1)
            keep_s = (first_s == tbl) & (cos_s >= lo)
            return pd.DataFrame(
                {
                    "id_a": np.concatenate(
                        [out["id_a"], np.full(keep_s.sum(), ids[0])]
                    ),
                    "id_b": np.concatenate(
                        [out["id_b"], ids[over][keep_s]]
                    ),
                    "cos_raw": np.concatenate(
                        [out["cos_raw"], cos_s[keep_s]]
                    ),
                }
            )
        acc = np.outer(V[:, 0], V[:, 0])
        for i in range(1, V.shape[1]):
            acc = acc + np.outer(V[:, i], V[:, i])
        norms = np.sqrt(np.diag(acc))
        ia, ib = np.triu_indices(n, 1)
        # keep a pair only in its FIRST matching table
        first = np.argmax(B[ia] == B[ib], axis=1)
        cos = acc[ia, ib] / (norms[ia] * norms[ib])
        keep = (first == tbl) & (cos >= lo)
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]],
             "cos_raw": cos[keep]}
        )

    # Explicit exchange sized by CORES, not bytes: the scoring stage is
    # CPU-bound Python (gram matrices per Arrow group), so AQE's
    # bytes-based partition coalescing (advisory size / parallelismFirst
    # =false) would serialize it onto a handful of workers even though
    # its input is tiny. A user repartition on the group keys is never
    # coalesced, and the groupBy reuses its hash partitioning — still
    # exactly one shuffle.
    n_par = keyed.sparkSession.sparkContext.defaultParallelism
    scored = keyed.repartition(n_par, "tbl", "bucket").groupBy(
        "tbl", "bucket"
    ).applyInPandas(
        _score, f"id_a {id_sql}, id_b {id_sql}, cos_raw double"
    )
    return (
        scored.select(
            "id_a", "id_b", F.round(F.col("cos_raw"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ----------------------------------------------------------- winnowing


def winnowing_fingerprints(
    df: DataFrame,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm, public): hash the POSITIONAL k-gram sequence,
    slide a ``window`` of consecutive hashes, keep each window's
    minimum, and return the distinct selected hashes per document.

    Guarantees: any shared substring of length >= window + k - 1 tokens
    contributes at least one common fingerprint, while only ~2/(w+1) of
    all k-gram hashes are kept — the rolling-hash fingerprint scheme
    for plagiarism/near-dup detection at corpus scale.

    Shape: one regex pass per doc, posexplode, ONE shuffle on the doc
    key shared by all three window expressions (rolling min, position
    count), then distinct. Output: (id, fingerprint).
    """
    from pyspark.sql import Window as W

    from ..functions.text import word_shingles_text

    seq = df.select(
        F.col(id_col),
        F.posexplode(
            word_shingles_text(text_col, k, distinct=False)
        ).alias("pos", "shingle"),
    ).select(
        id_col, "pos", portable_hash64(F.col("shingle")).alias("h")
    )
    w_min = (
        W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    )
    w_all = W.partitionBy(id_col)
    picked = (
        seq.withColumn("minh", F.min("h").over(w_min))
        .withColumn("n", F.count("*").over(w_all))
        # full windows only; a doc shorter than the window keeps its
        # single partial window at pos 0
        .filter(
            F.col("pos") <= F.greatest(F.col("n") - window, F.lit(0))
        )
    )
    return picked.select(
        F.col(id_col), F.col("minh").alias("fingerprint")
    ).distinct()


def cluster_scoped_near_pairs(
    emb: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-scoped near-duplicate pairs (Abbas et
    al., "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", 2023 — public arXiv 2303.09540): assign
    every vector to its nearest centroid, then score pairs ONLY within
    a cluster. The published scale argument, implemented literally:
    all-pairs work is bounded per cluster (grow ``n_clusters`` with the
    corpus so cluster sizes stay ~1e4), and the cross-cluster product —
    the quadratic term — is never formed. Returns
    (cluster, id_a, id_b, cos_sim) with id_a < id_b, cos_sim rounded
    to 6 then thresholded.

    Shape: one Arrow map for assignment (broadcast centroid matrix, no
    shuffle), ONE shuffle on cluster id into a grouped-map
    ``applyInPandas`` whose per-dimension outer-product accumulation
    matches ``list_dot_product``'s IEEE add order — the same
    engine-exact scoring contract as ``embedding_near_dup_pairs``.
    Cosine differs from centroid-bucketed LSH in that clusters
    partition the space: a true pair straddling a cluster boundary is
    missed by design (SemDeDup accepts this; the paper measures the
    effect) — use ``embedding_near_dup_pairs`` when cross-boundary
    recall matters."""
    import numpy as np
    import pandas as pd

    from ..functions.vectors import (
        EMBEDDING_DIM,
        as_double,
        nearest_centroid_pandas,
    )

    d = dim or EMBEDDING_DIM
    id_field = next(f for f in emb.schema.fields if f.name == id_col)
    id_sql = id_field.dataType.simpleString()
    asg = emb.select(
        F.col(id_col),
        as_double(vec_col).alias("v"),
        nearest_centroid_pandas(vec_col, n_clusters, d).alias("cluster"),
    )
    lo = threshold - 1e-6

    def _score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "cluster": pd.Series([], dtype="int32"),
                "id_a": pd.Series([], dtype=pdf[id_col].dtype),
                "id_b": pd.Series([], dtype=pdf[id_col].dtype),
                "cos_raw": pd.Series([], dtype=float),
            }
        )
        if n < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        acc = np.outer(V[:, 0], V[:, 0])
        for i in range(1, V.shape[1]):
            acc = acc + np.outer(V[:, i], V[:, i])
        norms = np.sqrt(np.diag(acc))
        ia, ib = np.triu_indices(n, 1)
        cos = acc[ia, ib] / (norms[ia] * norms[ib])
        keep = cos >= lo
        return pd.DataFrame(
            {
                "cluster": np.full(int(keep.sum()), pdf["cluster"].iat[0],
                                   dtype=np.int32),
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos_raw": cos[keep],
            }
        )

    # cores-sized exchange for the CPU-bound Python scoring stage; see
    # the note in embedding_near_dup_pairs above
    n_par = asg.sparkSession.sparkContext.defaultParallelism
    scored = asg.repartition(n_par, "cluster").groupBy(
        "cluster"
    ).applyInPandas(
        _score, f"cluster int, id_a {id_sql}, id_b {id_sql}, cos_raw double"
    )
    return scored.select(
        "cluster",
        "id_a",
        "id_b",
        F.round(F.col("cos_raw"), 6).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)
