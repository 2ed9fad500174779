"""Deduplication family for large-scale training-data pipelines.

Five strategies over a ``documents(doc_id, text, ...)`` table, each designed
so the candidate-generation step is an equi-join (shuffle on a small key),
never an O(n²) cross join:

- exact            — hash-groupBy on md5(text); one shuffle.
- minhash LSH      — shingle rows → per-seed md5 → groupBy-MIN signature →
                     band keys → bucket equi-join; only same-band pairs meet.
- simhash          — 64-bit sign-sum fingerprint from token hashes;
                     candidates via Manku-style 3-of-6 block-combination
                     tables (complete for Hamming ≤ 3), then exact Hamming
                     recheck. 16-bit variant kept as the fingerprint
                     expression (dedup_simhash_fingerprint entry).
- n-gram Jaccard   — inverted index on shingles (explode → join on shingle)
                     with a document-frequency cutoff (hot boilerplate
                     shingles never enter the posting-list join);
                     pair score = |∩| / (|A|+|B|-|∩|) over surviving shingles.
- embedding cosine — banded random-hyperplane LSH (md5-derived plane signs,
                     reproducible in any engine) + exact cosine recheck.
                     Brute-force self-join kept as the small-scale
                     cross-check oracle (n_planes=0 path).

Determinism: every hash is md5-of-string (identical in DuckDB) so the
DuckDB oracles in __spark_entry__ reproduce results bit-for-bit; the
embedding hyperplane signs are md5-derived on the DRIVER (hashlib) and
embedded as literals in both the Spark plan and the generated oracle SQL.

Scale notes: every candidate self-join materializes its small key table
(``localCheckpoint``) first, so the signature subtree is computed exactly
once — not re-evaluated on both join sides (the round-1 10× recompute
trap). Hot-path expressions avoid higher-order functions (``transform`` /
``aggregate`` lambdas evaluate INTERPRETED — no whole-stage codegen):
signatures and fingerprints use the explode → codegen'd hash-aggregate
shape, and vector math uses the unrolled codegen'd forms in
functions.vectors.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..functions.vectors import as_double, dot_literal, dot_unrolled, norm_unrolled


def shingle_rows(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 shingle_n: int = 3) -> DataFrame:
    """(id, s) — one row per DISTINCT word-n-gram shingle of each document.

    Two projections, deliberately: the token array is materialized as a
    column first, then the per-shingle slice/join runs over that attribute.
    Building shingles directly from ``shingles(text_col)`` re-evaluates the
    whole ``tokens()`` regex-split subtree once PER SHINGLE ELEMENT inside
    the interpreted HOF lambda (lambda bodies reference the token-array
    expression, not a materialized value) — quadratic in document length;
    measured 3.2 s vs 0.4 s for the sf0.1 corpus explode. CollapseProject
    keeps the projections separate because ``_toks`` is referenced more
    than once.

    Semantics match ``explode(array_distinct(shingles(text, n)))``:
    documents with < n tokens yield their whole text as one shingle, so no
    document is dropped by the explode.
    """
    d = docs.select(F.col(id_col), tokens(text_col).alias("_toks"))
    arr = F.when(
        F.size("_toks") < shingle_n, F.array(F.array_join("_toks", " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("_toks") - shingle_n, F.lit(0))),
            lambda i: F.array_join(F.slice("_toks", i + 1, shingle_n), " "),
        )
    )
    return d.select(F.col(id_col), F.explode(F.array_distinct(arr)).alias("s"))


# --- exact -----------------------------------------------------------------

def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep min-id representative per exact text hash. Output: survivors."""
    h = F.md5(F.col(text_col))
    return (
        docs.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("_h")
    )


# --- minhash LSH -----------------------------------------------------------

def minhash_signature(doc_shingles: Column, n_hashes: int) -> Column:
    """Array of per-seed min hashes, computed in ONE pass over the shingle
    array: each shingle is hashed once per seed into an n_hashes-wide row,
    then an element-wise-min fold collapses them. Hash_i(s) = md5('seed{i}:'
    || s) — string min is deterministic and engine-portable.

    (Round-1 version built n_hashes separate ``array_min(transform(...))``
    expressions, duplicating the shingle subtree n_hashes times — ~8× wasted
    compute at bench scale.)
    """
    hashed = F.transform(
        doc_shingles,
        lambda s: F.array(*[F.md5(F.concat(F.lit(f"seed{i}:"), s)) for i in range(n_hashes)]),
    )
    # 'zz…' sorts after every md5 hex string, so it is the fold identity.
    init = F.array_repeat(F.lit("zz"), n_hashes)
    return F.aggregate(
        hashed, init, lambda acc, row: F.zip_with(acc, row, lambda a, b: F.least(a, b))
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_hashes: int = 8, shingle_n: int = 3) -> DataFrame:
    """(id, h0..h{n-1}) — per-seed min hashes via the explode → codegen'd
    hash-aggregate shape: explode distinct shingles to rows, compute the
    n_hashes seeded md5s per shingle in one codegen'd projection, then
    groupBy(id) with n_hashes MIN aggregates. Same values as
    :func:`minhash_signature` (min over distinct = min over all), but every
    operator is whole-stage-codegen'd — the HOF fold formulation evaluates
    interpreted (HOFs don't codegen) and measured ~4× slower at sf0.1. The
    map-side partial MIN reduces the exchange to n_hashes strings per doc.

    ``shingles`` is never empty (< n tokens → one whole-text shingle), so
    the explode drops no documents.
    """
    sh = shingle_rows(docs, text_col, id_col, shingle_n)
    hashed = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"seed{i}:"), F.col("s"))).alias(f"_m{i}")
            for i in range(n_hashes)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"_m{i}").alias(f"h{i}") for i in range(n_hashes)]
    )


def minhash_bands(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n_hashes: int = 8, band_size: int = 2, shingle_n: int = 3) -> DataFrame:
    """(id, band_idx, band_key) — LSH banding; same band_key → candidate."""
    n_bands = n_hashes // band_size
    sig = minhash_signatures(docs, text_col, id_col, n_hashes, shingle_n)
    bands = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws("|", *[F.col(f"h{b * band_size + j}")
                                           for j in range(band_size)]).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    )
    return bands.select(id_col, "band.band_idx", "band.band_key")


def dedup_minhash_lsh(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n_hashes: int = 8, band_size: int = 2, shingle_n: int = 3) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Scale shape: explode to (band_idx, band_key) → MATERIALIZE the small
    band table (localCheckpoint: signature computed once, not once per join
    side) → self-equi-join on the band key → distinct pairs. The join key
    space grows with corpus size, so bucket sizes stay small; hot bands
    (boilerplate docs) are AQE-skew-split.
    """
    from ..session import persistent_rdd_ids, unpersist_new_rdds

    spark = docs.sparkSession
    before = persistent_rdd_ids(spark)
    # localCheckpoint, not persist: BOTH materialize once for the two join
    # sides, but localCheckpoint also TRUNCATES the plan — the signature
    # subtree would otherwise be embedded (and re-analyzed) twice in every
    # downstream plan. The corpus-scale checkpoint blocks are explicitly
    # released after the small pair result is pinned (round-2 verdict
    # finding: leaked checkpoint blocks degraded the driver e2e bench 3.6×).
    bands = minhash_bands(docs, text_col, id_col, n_hashes, band_size, shingle_n)
    bands = bands.localCheckpoint(eager=True)
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    mid = persistent_rdd_ids(spark)
    # materialize the SMALL pair result, then release the corpus-scale band
    # table (everything pinned between the two snapshots)
    result = pairs.localCheckpoint(eager=True)
    unpersist_new_rdds(spark, before, keep=persistent_rdd_ids(spark) - mid)
    return result


# --- simhash ----------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16


def simhash64_fingerprints(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, b0..b3) — 64-bit simhash as 4×16-bit band values.

    Bit j (0..63) = sign of Σ_tokens ±1, where the per-token contribution is
    bit (j mod 4) of md5-hex nibble (j div 4), nibbles 0..15.

    Explode → codegen'd hash-aggregate shape, deliberately: higher-order
    ``F.aggregate`` folds are evaluated INTERPRETED (HOFs don't participate
    in whole-stage codegen), so 64 per-bit array folds cost µs-per-element —
    measured ~3.4 s for 5k docs at sf0.1. Instead: explode tokens to rows,
    pack each token's first 16 md5 hex nibbles into TWO 32-bit longs via
    ``conv`` (hex char p of substring(1,8) is nibble p-1, so nibble i sits
    at bits 4*(7-i)..4*(7-i)+3 of the first long; nibbles 8-15 likewise in
    the second), then groupBy(id) with 64 SUM(±1) aggregates of pure
    shift/and arithmetic — every operator whole-stage-codegen'd. The
    map-side partial aggregation reduces the exchange to 64 ints per doc,
    so the one shuffle this adds is ~300 bytes/doc regardless of text size.
    Measured ~10× over the fold formulation (3.4 s → 0.35 s warm at sf0.1).

    ``explode_outer`` + SUM-over-NULL keeps token-less docs: their counters
    aggregate to NULL, NULL > 0 is false, so every bit is 0 — identical to
    the fold's empty-array result (bands all 0).

    Scale: 2^64 fingerprint space never saturates (vs 65,536 buckets for the
    16-bit variant, which at 100 TB puts millions of docs per bucket and the
    pair join goes quadratic — the round-1 weakness this replaces).
    """
    toks = docs.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("_t")
    ).select(F.col(id_col), F.md5("_t").alias("_m"))
    packed = toks.select(
        F.col(id_col),
        F.conv(F.substring("_m", 1, 8), 16, 10).cast("long").alias("_n0"),  # nibbles 0-7
        F.conv(F.substring("_m", 9, 8), 16, 10).cast("long").alias("_n1"),  # nibbles 8-15
    )

    def counter(j: int) -> Column:
        nib, bit = j // 4, j % 4
        src = "_n0" if nib < 8 else "_n1"
        shift = 4 * (7 - nib % 8) + bit
        return F.sum(
            F.shiftright(F.col(src), shift).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
        )

    counted = packed.groupBy(id_col).agg(
        *[counter(j).alias(f"c{j}") for j in range(SIMHASH_BITS)]
    )
    band_cols = []
    for b in range(SIMHASH_BANDS):
        band = None
        for k in range(SIMHASH_BAND_BITS):
            j = b * SIMHASH_BAND_BITS + k
            term = F.when(F.col(f"c{j}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
            band = term if band is None else band + term
        band_cols.append(band.alias(f"b{b}"))
    return counted.select(id_col, *band_cols)


def simhash64_band_sql(toks_expr: str, band: int) -> str:
    """DuckDB SQL for band ``band`` of the 64-bit simhash — the identical
    formula over a pre-computed token-array column/expression."""
    terms = []
    for k in range(SIMHASH_BAND_BITS):
        j = band * SIMHASH_BAND_BITS + k
        nib, bit = j // 4, j % 4
        contrib = (
            f"list_sum(list_transform({toks_expr}, t -> CASE WHEN "
            f"((strpos('0123456789abcdef', substr(md5(t), {nib + 1}, 1)) - 1) >> {bit}) & 1 = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {contrib} > 0 THEN {1 << k} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# Manku/Jain/Das Sarma-style (WWW'07, "Detecting Near-Duplicates for Web
# Crawling" — public) block-combination candidate tables: split the 64-bit
# fingerprint into b blocks; a pair at Hamming ≤ k differs in ≤ k blocks, so
# it AGREES exactly on at least one (b−k)-subset of blocks (pigeonhole) →
# probe C(b, b−k) tables keyed by the concatenated (b−k)-block bits.


def simhash_block_scheme(
    n_blocks: int = 6, complete_hamming: int = 3
) -> tuple[list[tuple[int, int]], list[tuple[int, ...]]]:
    """(block bounds, block-combination tables) complete for Hamming ≤ k.

    The default (b=6, k=3) is Manku's 3-of-6 scheme: C(6,3)=20 tables keyed
    by ~32 concatenated bits — key space 2^32, vs 2^16 for naive 4×16
    banding, whose buckets saturate at ~10^8 docs (corpus/2^16 docs per
    bucket → quadratic pair blowup; measured at sf0.1 the naive scheme
    produced 188k candidates for 4.5k true pairs — 40× false-candidate
    overhead from random 16-bit collisions alone). Exact recall at a wider
    bound trades table count for key width: b=8/k=4 gives C(8,4)=70 tables
    on 32-bit keys (gated recall=1.0 at Hamming ≤ 4 in tests/test_dedup.py).
    The per-table key keeps 64·(b−k)/b bits — pick b, k so that stays large
    enough that buckets don't saturate at the target corpus size.
    """
    from itertools import combinations

    if not 0 < complete_hamming < n_blocks <= 64:
        raise ValueError(
            f"need 0 < complete_hamming < n_blocks <= 64, got "
            f"k={complete_hamming}, b={n_blocks}"
        )
    base, rem = divmod(64, n_blocks)
    bounds, lo = [], 0
    for i in range(n_blocks):
        hi = lo + base + (1 if i < rem else 0)
        bounds.append((lo, hi))
        lo = hi
    combos = list(combinations(range(n_blocks), n_blocks - complete_hamming))
    return bounds, combos


# default scheme as module constants — the registry's dual-engine SQL
# (entry_queries) textually mirrors exactly this scheme
SIMHASH_BLOCK_BOUNDS, SIMHASH_BLOCK_COMBOS = simhash_block_scheme(6, 3)


def _simhash_block(band_vals, lo: int, hi: int):
    """Bits [lo, hi) of the 64-bit fingerprint, assembled from the 4×16-bit
    band values (bit j of the fingerprint = bit j-16*band of band j//16).
    Works over Spark Columns; mirrored textually by simhash64_block_sql."""
    acc = None
    shift_acc = 0
    for band in range(SIMHASH_BANDS):
        blo = band * SIMHASH_BAND_BITS
        s, e = max(lo, blo), min(hi, blo + SIMHASH_BAND_BITS)
        if s >= e:
            continue
        piece = (
            F.shiftright(band_vals[band], s - blo)
            .bitwiseAND(F.lit((1 << (e - s)) - 1))
        )
        term = piece * F.lit(1 << shift_acc)
        acc = term if acc is None else acc + term
        shift_acc += e - s
    return acc


def simhash64_block_sql(lo: int, hi: int, col_prefix: str = "b") -> str:
    """DuckDB SQL for bits [lo, hi) of the fingerprint over columns b0..b3 —
    the identical assembly as :func:`_simhash_block`."""
    terms = []
    shift_acc = 0
    for band in range(SIMHASH_BANDS):
        blo = band * SIMHASH_BAND_BITS
        s, e = max(lo, blo), min(hi, blo + SIMHASH_BAND_BITS)
        if s >= e:
            continue
        mask = (1 << (e - s)) - 1
        terms.append(f"((({col_prefix}{band} >> {s - blo}) & {mask}) * {1 << shift_acc})")
        shift_acc += e - s
    return "(" + " + ".join(terms) + ")"


def dedup_simhash64(docs: DataFrame, max_hamming: int | None = None,
                    text_col: str = "text", id_col: str = "doc_id",
                    n_blocks: int = 6, complete_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by 64-bit simhash block-combination Hamming join.

    Candidates agree on all blocks of ≥1 of the C(b, b−k) (b−k)-of-b block
    combinations from ``simhash_block_scheme(n_blocks, complete_hamming)``
    (guaranteed complete for Hamming ≤ complete_hamming by pigeonhole),
    then an exact Hamming recheck over the full fingerprint keeps pairs
    with distance ≤ max_hamming. Output: (id_a, id_b, hamming).

    RECALL CONTRACT: ``max_hamming`` defaults to ``complete_hamming`` — the
    candidate scheme's completeness bound, so by default every true pair at
    distance ≤ complete_hamming is returned (gated by tests/test_dedup.py
    against brute force, for both the 3-of-6 default and b=8/k=4). Callers
    MAY pass a larger ``max_hamming``; distances past the bound are then
    best-effort (no false pairs, exact hamming values, but partial recall —
    measured 0.44 at Hamming 4-6 on the sf0.01 documents table with the
    default scheme). For EXACT recall at a wider bound, widen the scheme
    instead: ``n_blocks=8, complete_hamming=4`` probes 70 tables for
    guaranteed Hamming ≤ 4.

    Scale shape: fingerprint table materialized once (localCheckpoint),
    candidate equi-join on (table_idx, block-combo key) — the key keeps
    64·(b−k)/b bits (~2^32 for both shipped schemes), putting
    corpus_size / 2^32 docs per bucket (the naive 16-bit banding this
    replaces saturates its 2^16 buckets around 10^8 docs); near-dup clusters
    are small; no cross join anywhere.
    """
    from ..session import persistent_rdd_ids, unpersist_new_rdds

    bounds, combos = simhash_block_scheme(n_blocks, complete_hamming)
    if max_hamming is None:
        max_hamming = complete_hamming
    spark = docs.sparkSession
    before = persistent_rdd_ids(spark)
    # localCheckpoint (not persist): truncates the fingerprint plan so the
    # three consumers below (explode + both recheck sides) embed a leaf RDD
    # scan, not the 64-fold aggregate subtree; blocks released after the
    # small pair result is pinned.
    fp = simhash64_fingerprints(docs, text_col, id_col).localCheckpoint(eager=True)
    band_vals = [F.col(f"b{i}") for i in range(SIMHASH_BANDS)]
    blocks = [_simhash_block(band_vals, lo, hi) for lo, hi in bounds]
    exploded = fp.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(t).alias("tbl"),
                    F.concat_ws(
                        "|", *[blocks[b].cast("string") for b in combo]
                    ).alias("key"),
                )
                for t, combo in enumerate(combos)
            ])
        ).alias("c"),
    ).select(id_col, "c.tbl", "c.key")
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    fa = fp.select(F.col(id_col).alias("id_a"), *[F.col(f"b{i}").alias(f"a{i}") for i in range(SIMHASH_BANDS)])
    fb = fp.select(F.col(id_col).alias("id_b"), *[F.col(f"b{i}").alias(f"c{i}") for i in range(SIMHASH_BANDS)])
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}")))
        for i in range(SIMHASH_BANDS)
    )
    pairs = (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    mid = persistent_rdd_ids(spark)
    # small pair result materialized, corpus-scale fingerprints released
    result = pairs.localCheckpoint(eager=True)
    unpersist_new_rdds(spark, before, keep=persistent_rdd_ids(spark) - mid)
    return result


def dedup_survivors(docs: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs → near-dup clusters → one survivor per cluster.

    The step every candidate-generation strategy above feeds: connected
    components over the pair graph (operators.canonicalize — driver
    union-find at dictionary scale, large-star/small-star beyond), survivor
    = min id per component, non-candidate docs survive unchanged. Output:
    (id, cluster_size) for survivors only.

    Scale shape: the pair graph is tiny relative to the corpus (near-dup
    clusters are small), so CC runs on pairs only; the corpus-wide part is
    one broadcast-able anti/left join against the loser set.
    """
    from .canonicalize import connected_components

    # CC canonicalizes by LEXICOGRAPHIC min; zero-pad numeric ids so the
    # lexicographic winner is the numeric-min doc (oracle picks min(id)).
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    cc = connected_components(
        pairs.select(pad("id_a").alias("id_a"), pad("id_b").alias("id_b"))
    )
    sizes = cc.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    losers = cc.filter(F.col("id") != F.col("canonical_id")).select("id")
    d = docs.select(pad(id_col).alias("id"))
    # NO broadcast hints: on a heavily-duplicated corpus the loser set is
    # corpus-scale (web crawls run ~50% dups) — AQE picks broadcast when the
    # pair graph is actually small, shuffle join when it is not.
    survivors = d.join(losers, "id", "left_anti")
    return (
        survivors.join(sizes, survivors.id == sizes.canonical_id, "left")
        .select(
            F.col("id").cast("long").alias(id_col),
            F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        )
    )


# --- n-gram Jaccard ----------------------------------------------------------

def dedup_ngram_jaccard(docs: DataFrame, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3, max_df: int | None = None) -> DataFrame:
    """Pairs with shingle-set Jaccard ≥ threshold, via inverted index:
    explode distinct shingles → DF-filter → self-join on shingle → count
    intersections → Jaccard from (filtered) set sizes. Shuffle key = shingle
    (high cardinality → fine partitions); no cross join anywhere.

    Hot-shingle defense (the 100 TB scale-killer): shingles appearing in
    more than ``max_df`` documents are dropped BEFORE the posting-list
    self-join — a boilerplate trigram shared by 1M docs would otherwise
    produce a 10¹²-row bucket. The hot set is anti-joined, and sizes/Jaccard
    are computed over the surviving shingle space — i.e. hot shingles are
    treated like stopwords, deterministically on both the Spark and oracle
    sides.

    The hot-set anti-join carries NO forced broadcast hint: its worst-case
    bound (≤ total_postings / max_df entries) is not small at corpus scale
    — 10¹² postings at max_df=5 admits 2×10¹¹ entries, and
    boilerplate-heavy corpora (exactly where the cutoff matters) are the
    case that inflates it. AQE broadcasts from runtime stats when the set
    actually fits autoBroadcastJoinThreshold (it does at every tested SF)
    and falls back to a shuffled join when it doesn't — same result either
    way (plan-equivalence pinned in tests/test_dedup.py).
    """
    sh = shingle_rows(docs, text_col, id_col, shingle_n)
    if max_df is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("s")
        )
        sh = sh.join(hot, "s", "left_anti")
    # Materialize the (filtered) posting list once for its three consumers
    # (sizes + both self-join sides) — MEMORY_AND_DISK persist, not
    # localCheckpoint: the posting list is corpus-scale, so spill-when-needed
    # beats an unconditional full disk copy; the eager count() prevents AQE's
    # concurrent query stages from racing the first materialization.
    from pyspark import StorageLevel

    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sh.count()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    result = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # materialize the SMALL pair result, then release the corpus-scale
    # posting list — persisting it for the session lifetime would pin one
    # copy per corpus processed
    result = result.localCheckpoint(eager=True)
    sh.unpersist()
    return result


# --- embedding cosine ---------------------------------------------------------

def hyperplane_signs(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix derived from md5 on the DRIVER:
    sign(i, j) = +1 iff the first hex nibble of md5('plane{i}:{j}') is even.
    Computed once with hashlib and embedded as LITERALS in both the Spark
    plan and the generated DuckDB oracle SQL — bit-identical bucketing in
    any engine with no runtime hashing (round-1 used runtime xxhash64, which
    no oracle could reproduce)."""
    planes = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            nib = int(hashlib.md5(f"plane{i}:{j}".encode()).hexdigest()[0], 16)
            row.append(1.0 if nib % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def embedding_lsh_pairs(embs: DataFrame, threshold: float = 0.95,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        n_bands: int = 4, band_planes: int = 4,
                        dim: int = 64) -> DataFrame:
    """Banded random-hyperplane LSH + exact cosine recheck — the 100 TB path.

    Candidates share ALL ``band_planes`` sign bits in ≥1 of ``n_bands``
    bands (equi-join on (band_idx, band_key) — never a cross join), then an
    exact cosine recheck keeps pairs ≥ threshold. Recall for a pair at angle
    θ is 1-(1-(1-θ/π)^band_planes)^n_bands — ~0.99 at cos 0.95 with 4×4.
    Output: (id_a, id_b, cos).
    """
    planes = hyperplane_signs(n_bands * band_planes, dim)
    # d is a bare scan+cast — deliberately NOT materialized: the recheck
    # joins (va/vb) re-read the columnar source, which at 100 TB beats
    # writing a full copy of the corpus vectors to executor disk. Only the
    # SMALL band table below is checkpointed (it carries the plane-dot
    # compute and feeds both self-join sides).
    d = embs.select(F.col(id_col), as_double(vec_col).alias("v"))

    def bit(p: int) -> Column:
        # codegen'd literal-weight dot — the HOF dot() evaluates interpreted
        return F.when(dot_literal("v", planes[p]) > 0, F.lit("1")).otherwise(F.lit("0"))

    band_keys = [
        F.concat(*[bit(b * band_planes + k) for k in range(band_planes)])
        for b in range(n_bands)
    ]
    bands = d.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_idx"), band_keys[b].alias("band_key"))
                for b in range(n_bands)
            ])
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_key")
    # no_wholestage_codegen: the 16×64-term plane-dot projection exceeds
    # janino's 64 KB method limit — the doomed compile attempt costs seconds
    # PER INVOCATION (failures are not cached) before the engine falls back
    # to interpreted eval anyway; skipping the attempt is strictly faster
    from ..session import no_wholestage_codegen, persistent_rdd_ids, unpersist_new_rdds

    spark = embs.sparkSession
    before = persistent_rdd_ids(spark)
    # localCheckpoint (not persist): truncates the 16×64-term plane-dot
    # subtree so neither self-join side re-embeds (and re-analyzes) it;
    # blocks released after the final pair table below.
    with no_wholestage_codegen(spark):
        bands = bands.localCheckpoint(eager=True)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # norms computed per VECTOR on the join build sides, not per candidate
    # pair — bit-identical cosine (see norm_unrolled) at 1/3 the per-pair
    # expression size
    va = d.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                  norm_unrolled("v", dim).alias("na"))
    vb = d.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                  norm_unrolled("v", dim).alias("nb"))
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_unrolled("va", "vb", dim)
                / (F.col("na") * F.col("nb")),
                3,
            ).alias("cos"),
        )
    )
    # Materialize the scored candidates BEFORE the threshold filter: with
    # the filter in the same plan, PushPredicateThroughJoin inlines the
    # whole 64-term dot into the join CONDITION and the projection evaluates
    # it a second time — and at this expression width the stage falls out of
    # whole-stage codegen, so the double interpreted evaluation dominates
    # (measured up to 4× on the sf0.1 recheck). The scored table is
    # candidate-scale (3 narrow columns), which the LSH pruning already
    # bounds. localCheckpoint truncates the dot subtree for the filter below.
    # no_wholestage_codegen: same doomed-compile story as the band table.
    with no_wholestage_codegen(spark):
        scored = scored.localCheckpoint(eager=True)
        mid = persistent_rdd_ids(spark)
        # final (threshold-surviving) pair table is the smallest of the
        # three — checkpoint it, release everything corpus/candidate-scale
        result = scored.filter(F.col("cos") >= threshold).localCheckpoint(eager=True)
    unpersist_new_rdds(spark, before, keep=persistent_rdd_ids(spark) - mid)
    return result


def embedding_lsh_sql(threshold: float, n_bands: int = 4, band_planes: int = 4,
                      dim: int = 64, table: str = "embeddings",
                      vec_col: str = "embedding", id_col: str = "vec_id") -> str:
    """DuckDB oracle reproducing embedding_lsh_pairs bit-for-bit: the SAME
    driver-side md5-derived plane literals, band construction, candidate
    join and cosine recheck."""
    planes = hyperplane_signs(n_bands * band_planes, dim)

    def lit(p: int) -> str:
        return "[" + ", ".join(str(x) for x in planes[p]) + "]"

    def bit(p: int) -> str:
        return f"(CASE WHEN list_dot_product(v, {lit(p)}) > 0 THEN '1' ELSE '0' END)"

    band_cols = ",\n             ".join(
        " || ".join(bit(b * band_planes + k) for k in range(band_planes)) + f" AS bk{b}"
        for b in range(n_bands)
    )
    band_union = "\n      UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band_idx, bk{b} AS band_key FROM bits"
        for b in range(n_bands)
    )
    return f"""
    WITH v AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}),
    bits AS (
      SELECT {id_col}, v,
             {band_cols}
      FROM v
    ),
    bands AS (
      {band_union}
    ),
    cand AS (
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.{id_col} < b.{id_col}
    )
    SELECT id_a, id_b, cos FROM (
      SELECT id_a, id_b,
             ROUND(list_dot_product(va.v, vb.v) /
                   (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))), 3) AS cos
      FROM cand JOIN v va ON va.{id_col} = id_a JOIN v vb ON vb.{id_col} = id_b
    ) WHERE cos >= {threshold}
    """


def dedup_embedding_cosine(embs: DataFrame, threshold: float = 0.95,
                           vec_col: str = "embedding", id_col: str = "vec_id",
                           n_planes: int = 16, dim: int = 64) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold. APPROXIMATE by default: the
    default n_planes=16 runs banded LSH, which recalls ~all pairs at
    dedup-grade thresholds (cos ≥ 0.95) but only a fraction of borderline
    ones — callers needing the exhaustive pair set must pass n_planes=0
    explicitly and accept the O(n²) cost.

    n_planes  > 0 → banded hyperplane LSH (embedding_lsh_pairs) — the
    registered/benched scale path; n_planes is split into 4 bands.
    n_planes == 0 → brute-force O(n²) self-join — kept ONLY as the
    small-scale cross-check (tests compare LSH ⊆ brute-force at sf0.001).
    """
    if n_planes > 0:
        n_bands = 4 if n_planes % 4 == 0 else 1
        return embedding_lsh_pairs(
            embs, threshold, vec_col, id_col,
            n_bands=n_bands, band_planes=n_planes // n_bands, dim=dim,
        )
    d = embs.select(
        F.col(id_col), as_double(vec_col).alias("v")
    ).withColumn("n", norm_unrolled("v", dim))
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                dot_unrolled("a.v", "b.v", dim)
                / (F.col("a.n") * F.col("b.n")),
                3,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
