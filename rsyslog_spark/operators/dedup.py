"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — all
expressed as DataFrame pipelines over built-in functions (xxhash64,
explode, groupBy); zero Python UDFs, so every stage is codegen'd and
shuffle volume is the only cost.

Scale design (the point of each strategy at 100 TB):
- exact: shuffle on a 64-bit content hash, not the content — the
  shuffle carries (hash, id), bytes stay columnar at the scan.
- MinHash LSH: candidate generation shuffles (band_id, band_hash)
  pairs only; the quadratic verify step runs per-bucket, and buckets
  are tiny by construction.
- SimHash: one aggregation per document; near-dup candidates via
  banding the 64-bit fingerprint into 4x16-bit keys (Hamming<=3 ⇒
  at least one band equal, pigeonhole).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+", -1)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct), pure higher-order fns."""
    toks = _tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.array_distinct(
        F.filter(grams, lambda g: F.length(g) > 0)
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup SUMMARY: one row per distinct text —
    ``(id_col, dup_count)`` with id = the lowest id in the group.
    To materialize the surviving full rows, semi-join the result
    back on ``id_col`` (or use :func:`dedup_by_components` for the
    filter-in-place shape).

    Hash-first: groupBy xxhash64(text) so the shuffle key is 8 bytes;
    a same-hash different-text collision (~2^-64 per pair) is accepted
    — flip VERIFY=True semantics by grouping on the text itself for
    the paranoid path.
    """
    h = F.xxhash64(F.col(text_col))
    return (
        df.withColumn("__h", h)
        .groupBy("__h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__h")
    )


from rsyslog_spark.session import register_session_cache as _reg_cache

_MH_AGG_CACHE: dict[tuple, list] = _reg_cache({})
#: simhash per-bit agg + fingerprint-assembly Columns (see simhash)
_SH_COL_CACHE: dict[tuple, tuple] = _reg_cache({})
#: minhash band/signature Columns (see minhash_dedup)
_MH_BAND_CACHE: dict[tuple, tuple] = _reg_cache({})

# Portable hash family: engine-reproducible MinHash/SimHash so the
# whole near-dup pipeline can be verified against an external SQL
# oracle (DuckDB). Base hash = leading hex nibbles of md5 (identical
# in every engine), mixed by a seeded linear-congruential family mod
# the Mersenne prime 2^31-1 (products stay < 2^62, so plain BIGINT
# arithmetic never overflows on engines that raise instead of
# wrapping). Production default stays xxhash64 (one JVM intrinsic vs
# an md5 per shingle); the candidate/verify PIPELINE is identical —
# only the hash family changes.
MERSENNE31 = 2147483647


def portable_seeds(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the portable hash family —
    embed the same literals in the oracle SQL."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
            for _ in range(num_hashes)]


def _portable_h32(c: Column) -> Column:
    """32-bit base hash reduced mod 2^31-1: first 8 md5 hex chars."""
    return (F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
            % F.lit(MERSENNE31))


def _portable_h60(c: Column) -> Column:
    """60-bit base hash: first 15 md5 hex chars (fits signed 64)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str,
    num_hashes: int = 64, shingle_n: int = 3,
    portable: bool = False, seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature: num_hashes columns mh0..mhN.

    One explode + one groupBy(doc): each hash function is
    ``min(hash_i(shingle))`` — num_hashes aggregate expressions
    evaluated map-side (partial agg), so the shuffle carries one row
    per document. ``portable=True`` switches to the md5/LCG family
    (see module note) for external-oracle verification.
    """
    base = (_portable_h32 if portable else F.xxhash64)
    ex = df.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("__sh"),
    ).select(
        id_col,
        # hash the shingle STRING once; the hash family then mixes the
        # 8-byte value, ~10x cheaper than re-hashing the string per
        # hash function
        base(F.col("__sh")).alias("__h"),
    )
    from rsyslog_spark.session import session_cache_key

    sk = session_cache_key()   # JVM-restart-safe memo key
    key = (sk, num_hashes, portable, seed)
    aggs = _MH_AGG_CACHE.get(key) if sk else None
    if aggs is None:
        # 64 agg Columns ≈ 200 Py4J calls; memoize per num_hashes
        if portable:
            aggs = [
                F.min((F.lit(a) * F.col("__h") + F.lit(b))
                      % F.lit(MERSENNE31)).alias(f"mh{i}")
                for i, (a, b) in enumerate(portable_seeds(num_hashes, seed))
            ]
        else:
            aggs = [
                F.min(F.xxhash64(F.lit(i), F.col("__h"))).alias(f"mh{i}")
                for i in range(num_hashes)
            ]
        if sk:
            _MH_AGG_CACHE[key] = aggs
    return ex.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    sigs: DataFrame, id_col: str,
    num_hashes: int = 64, bands: int = 16,
) -> DataFrame:
    """LSH banding: hash each band of the signature, self-join on
    (band_id, band_hash) → candidate pairs (id_a < id_b).

    The self-join key includes the band id, so the shuffle spreads
    across bands; per-bucket pair expansion is the only quadratic
    step and bucket sizes are bounded in practice by band width.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands} "
            "— trailing hash functions would be silently unused")
    rows_per_band = num_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh{b * rows_per_band + r}")
                         for r in range(rows_per_band)]).alias("bh"),
        )
        for b in range(bands)
    ])
    banded = sigs.select(F.col(id_col), F.explode(band_structs).alias("bb")) \
        .select(id_col, "bb.band", "bb.bh")
    a = banded.hint("merge").alias("a")
    b = banded.alias("b")
    return (
        a.join(b, [F.col(f"a.band") == F.col("b.band"),
                   F.col("a.bh") == F.col("b.bh"),
                   F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame, text_col: str, id_col: str,
    num_hashes: int = 64, bands: int = 16, shingle_n: int = 3,
    threshold: float = 0.8,
    portable: bool = False, seed: int = 42,
) -> DataFrame:
    """Full MinHash near-dup pipeline: signatures → LSH candidates →
    signature-similarity verify → connected survivors removed.

    Returns (id_a, id_b, est_jaccard) pairs with est >= threshold;
    callers drop id_b (greedy by lowest id) or run components.
    ``portable=True`` uses the engine-reproducible hash family AND a
    plain concatenated-string band key, so an external SQL oracle can
    reproduce every row (band hash choice never changes WHICH pairs
    collide beyond hash quality — the verify step re-checks all
    signature positions either way).
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n,
                              portable=portable, seed=seed)
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands} "
            "— trailing hash functions would be silently unused")
    # Carry the signature ARRAY through the band explode so the
    # verify step reads both signatures straight off the self-joined
    # row — no re-join against the signature frame (the naive
    # cands⋈sigs⋈sigs recomputes the signature aggregation subtree
    # twice more and adds two shuffle joins). Cost shift: the band
    # shuffle carries num_hashes*8B per (doc, band) instead of 8B —
    # at 64 hashes that's 512B/row, far cheaper than two extra full
    # joins; the band self-join's two sides share one ReusedExchange.
    rows_per_band = num_hashes // bands

    # band/signature Columns reference only mh{i} names — memoized
    # per session (same rationale as _MH_AGG_CACHE: ~100 Py4J
    # round-trips per plan build otherwise)
    from rsyslog_spark.session import session_cache_key

    sk = session_cache_key()
    bkey = (sk, num_hashes, bands, portable)
    cached = _MH_BAND_CACHE.get(bkey) if sk else None
    if cached is None:
        def band_key(b: int) -> Column:
            cols = [F.col(f"mh{b * rows_per_band + r}")
                    for r in range(rows_per_band)]
            if portable:   # string key the oracle rebuilds verbatim
                return F.concat_ws(
                    ",", *[c.cast("string") for c in cols])
            return F.xxhash64(*cols)   # 8-byte key (production)

        band_structs = F.array(*[
            F.struct(F.lit(b).alias("band"), band_key(b).alias("bh"))
            for b in range(bands)
        ])
        sig_arr = F.array(*[F.col(f"mh{i}")
                            for i in range(num_hashes)])
        cached = (band_structs, sig_arr)
        if sk:
            _MH_BAND_CACHE[bkey] = cached
    band_structs, sig_arr = cached
    banded = sigs.select(
        F.col(id_col), sig_arr.alias("__sig"),
        F.explode(band_structs).alias("bb"),
    ).select(id_col, "__sig", "bb.band", "bb.bh")
    # Never let the planner broadcast a side of this self-join: both
    # sides are the full banded corpus (estimates from synthetic or
    # statless sources can look tiny and trigger an 8 GB broadcast
    # build at 1M docs — observed), and per-partition hash maps OOM too; merge keeps it a
    # sort-merge join (spill-safe) at any size.
    a = banded.hint("merge").alias("a")
    b = banded.alias("b")
    eq = F.aggregate(
        F.zip_with(F.col("a.__sig"), F.col("b.__sig"),
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    return (
        a.join(b, [F.col("a.band") == F.col("b.band"),
                   F.col("a.bh") == F.col("b.bh"),
                   F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                (eq / F.lit(float(num_hashes))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str,
    shingle_n: int = 3, threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle.

    explode → self-join on shingle → |A∩B| per pair → jaccard via
    |A|+|B|-|A∩B|. The shingle join key spreads the shuffle; a
    stopword-shingle hot key is the skew risk (AQE skew-join splits
    it). For 100 TB use minhash_dedup first and reserve this for
    candidate verification.
    """
    sized = df.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("__shs")
    ).withColumn("__sz", F.size("__shs"))
    ex = sized.select(id_col, "__sz", F.explode("__shs").alias("__sh"))
    # both sides are the full exploded corpus: pin to sort-merge
    # (see minhash_dedup note — broadcast/hash builds OOM at scale)
    a, b = ex.hint("merge").alias("a"), ex.alias("b")
    inter = (
        a.join(b, [F.col("a.__sh") == F.col("b.__sh"),
                   F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"),
             F.first("a.__sz").alias("__sza"),
             F.first("b.__sz").alias("__szb"))
    )
    jac = F.col("__inter") / (F.col("__sza") + F.col("__szb") - F.col("__inter"))
    return inter.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, text_col: str, id_col: str,
            portable: bool = False) -> DataFrame:
    """SimHash fingerprint per document — 64-bit (xxhash64 token
    hash, default) or 60-bit (``portable=True``: md5-derived token
    hash so an external SQL oracle reproduces every fingerprint; 60
    bits = 15 md5 hex chars, the widest that fits a signed BIGINT
    without overflow on engines that raise instead of wrapping).

    explode tokens → per-bit signed sums (one partial-agg column per
    bit) → assemble fingerprint. All integer ops; one shuffle on the
    doc id.
    """
    bits = 60 if portable else 64
    tok_hash = (_portable_h60 if portable else F.xxhash64)
    # one fused select: every chained DataFrame method re-runs
    # analysis over the (wide) upstream plan, and this operator's
    # wall is analysis-dominated at bench scale (measured r7:
    # ~1.5s construction vs ~0.8s execution) — so transformations
    # are fused wherever the API allows
    ex = df.select(
        F.col(id_col),
        F.explode(F.transform(_tokens(F.col(text_col)),
                              lambda t: tok_hash(t)))
        .alias("__h"))
    # Per-bit aggregation as a plain set-bit count (sum of the bit)
    # plus one token count: the classic ±1 sum is positive iff
    # 2·set_count > n — same integer decision, but the agg expression
    # is branch-free. Fingerprint assembly goes through ONE
    # conv(binary-string) instead of a 64-deep nested sum-of-whens:
    # the flat tree cuts Catalyst analysis/optimization time ~4x per
    # plan build (this query re-optimizes per call; the nested form
    # dominated its bench wall).
    # The ~190 Column objects (64 aggs + 64 chars + assembly) are
    # pure name-referencing expression trees (__h, b{i}, __n) built
    # through ~4 Py4J round-trips each — memoized per session like
    # _MH_AGG_CACHE so repeated plan builds skip the construction
    # chatter (r11: construction, not execution, dominated this
    # operator's bench wall).
    from rsyslog_spark.session import session_cache_key

    sk = session_cache_key()
    key = (sk, bits)
    cached = _SH_COL_CACHE.get(key) if sk else None
    if cached is None:
        bit_aggs = [
            F.sum(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)))
            .alias(f"b{i}")
            for i in range(bits)
        ]
        chars = [
            F.when(F.col(f"b{i}") * 2 > F.col("__n"), F.lit("1"))
            .otherwise(F.lit("0"))
            for i in range(bits - 1, -1, -1)      # MSB first
        ]
        if bits <= 62:
            fp = F.conv(F.concat(*chars), 2, 10).cast("long")
        else:
            # 64-bit: assemble from two 32-bit halves — a full-width
            # conv().cast("long") overflows signed range when bit 63
            # is set; the shift re-creates the two's-complement wrap
            # the old signed-addition form produced
            half = bits // 2
            hi = F.conv(F.concat(*chars[:bits - half]), 2, 10) \
                .cast("long")
            lo = F.conv(F.concat(*chars[bits - half:]), 2, 10) \
                .cast("long")
            fp = F.shiftleft(hi, half).bitwiseOR(lo)
        cached = (bit_aggs, fp)
        if sk:
            _SH_COL_CACHE[key] = cached
    bit_aggs, fp = cached
    sums = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"),
                                  *bit_aggs)
    return sums.select(F.col(id_col), fp.alias("simhash"))


def simhash_candidates(fps: DataFrame, id_col: str,
                       max_hamming: int = 3, bits: int = 64) -> DataFrame:
    """Near-dup candidates by 4-band banding over a ``bits``-wide
    fingerprint (Hamming<=3 guarantees one equal band, pigeonhole),
    then exact Hamming filter via bit_count(xor)."""
    if bits % 4:
        raise ValueError(f"bits={bits} not divisible by 4 bands")
    width = bits // 4
    mask = (1 << width) - 1
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(F.col("simhash"), b * width)
                 .bitwiseAND(F.lit(mask)).alias("bh"))
        for b in range(4)
    ])
    # fused: band fields accessed through the struct directly — every
    # extra select re-analyzes the wide fingerprint plan (see simhash)
    banded = fps.select(F.col(id_col), F.col("simhash"),
                        F.explode(bands).alias("bb"))
    # full-corpus self-join: sort-merge only (see minhash_dedup)
    a, b = banded.hint("merge").alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, [F.col("a.bb.band") == F.col("b.bb.band"),
                   F.col("a.bb.bh") == F.col("b.bb.bh"),
                   F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def exact_substring_spans(
    df: DataFrame, text_col: str, id_col: str,
    k: int = 16, min_len: int = 48, hash_grams: bool = False,
    other: DataFrame | None = None,
) -> DataFrame:
    """Cross-document duplicated-substring spans — the
    suffix-array-style exact-substring dedup of "Deduplicating
    Training Data Makes Language Models Better" (Lee et al., 2022),
    re-expressed as a DataFrame join instead of a suffix array.

    Method: side A contributes character ``k``-grams anchored at
    positions ``0, k, 2k, ...`` of each document; side B contributes
    ``k``-grams at EVERY position.  Any substring duplicated across
    two documents with length >= 2k-1 must contain an aligned anchor
    gram in one copy, and side B has the matching gram at the
    corresponding offset — so the equi-join on the gram finds every
    such span.  Hits are then merged along join diagonals
    (``pos_a - pos_b``) with a gaps-and-islands window (consecutive
    anchors are exactly ``k`` apart), giving maximal verified spans:
    a run of n contiguous matching anchors proves an identical
    substring of length n*k by concatenation — no re-comparison
    needed.  Reported spans under-cover the true maximal span by at
    most k-1 characters on each edge; pick ``min_len >= 3k`` so the
    detection guarantee (every dup >= 2k-1 chars surfaces) and the
    report threshold compose.

    Scale shape: anchor side is N/k rows, full side N rows (N = total
    corpus characters) — the same O(N) index size as the paper's
    suffix array, built as one explode + one equi-join shuffle
    instead of a serial sort.  ``hash_grams=True`` is the corpus-
    scale path: the join key becomes ``xxhash64(gram)`` — 8 bytes
    regardless of k — at a ~2^-64-per-pair false-merge risk; the
    default keeps literal grams so an external SQL oracle can
    reproduce the join bit-for-bit.  Output:
    ``(id_a, id_b, start_a, start_b, span_len)`` — 0-based starts,
    id_a the anchor-side document (both directions reported for a
    dup pair, each with its own alignment).

    ``other`` switches to the CROSS-CORPUS form — the paper's
    benchmark-decontamination use: anchors come from ``other`` (the
    small side, e.g. the eval set — N/k index rows), full-position
    grams from ``df`` (the training corpus), and the same-id filter
    is skipped.  ``id_a`` is then an ``other`` document id; drop the
    reported ``(id_b, start_b, span_len)`` regions from the corpus.
    """
    def grams(src: DataFrame, step: int, pos_name: str,
              gram_id: str) -> DataFrame:
        text = F.col(text_col)
        n = F.length(text)
        pos = F.when(
            n >= k,
            F.sequence(F.lit(0), n - k, F.lit(step))
        ).otherwise(F.array().cast("array<int>"))
        out = src.select(
            F.col(id_col).alias(gram_id), text.alias("__t"),
            F.explode(pos).alias(pos_name),
        )
        gram = F.substring(F.col("__t"), F.col(pos_name) + 1, k)
        if hash_grams:
            gram = F.xxhash64(gram)
        return out.select(gram_id, pos_name, gram.alias("__g"))

    anchors = grams(other if other is not None else df,
                    k, "pos_a", "id_a")
    fulls = grams(df, 1, "pos_b", "id_b")
    hits = anchors.hint("merge").join(fulls, "__g")
    if other is None:
        hits = hits.filter(F.col("id_a") != F.col("id_b"))
    hits = hits.select(
        "id_a", "id_b", "pos_a", "pos_b",
        (F.col("pos_a") - F.col("pos_b")).alias("__diag"))
    w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("pos_a")
    brk = F.when(
        F.col("pos_a") - F.lag("pos_a").over(w) == k, 0).otherwise(1)
    grp = (hits.withColumn("__brk", brk)
           .withColumn("__isl", F.sum("__brk").over(w)))
    return (grp.groupBy("id_a", "id_b", "__diag", "__isl")
            .agg(F.min("pos_a").alias("start_a"),
                 F.min("pos_b").alias("start_b"),
                 (F.max("pos_a") - F.min("pos_a") + k)
                 .alias("span_len"))
            .filter(F.col("span_len") >= min_len)
            .select("id_a", "id_b", "start_a", "start_b", "span_len"))


#: Diagnostics of the most recent connected_components call — skew
#: instrumentation (guide §2.5) + round accounting, read by tests and
#: loggable by operators at scale. Keys: top_dst_share,
#: total_edge_rows, salted, salt_partitions, rounds.
_LAST_CC_INFO: dict = {}

#: connected_components fixed tuning: round cap; hub detection (the
#: hottest dst's share of the symmetrized edge rows, on frames of at
#: least _CC_MIN_SALT_ROWS rows) and the salted layout's width.
_CC_MAX_ROUNDS = 25
_CC_HUB_SHARE = 0.05
_CC_SALT_PARTITIONS = 16
_CC_MIN_SALT_ROWS = 100_000


def _cc_edge_layout(sym: DataFrame, salt_partitions: int | None):
    """Static per-round join layout for the symmetrized self-loop
    edge frame: hash-partition + sort by the join key once, persist.

    ``salt_partitions=None`` → plain (dst) layout. An int → the
    SALTED layout for hub-skewed graphs: partition by (dst, salt)
    where salt = pmod(xxhash64(src), n) — deterministic per row
    (guide §2.5: never rand(), retried tasks must re-derive the same
    placement) — so a hub dst's edge rows spread over n partitions
    instead of serializing into one streaming task every round. The
    per-round join then keys on (dst, __salt) with the label side
    exploded n ways (n small label rows per node vs E hub rows in
    one task). Returns the persisted frame WITH the __salt column
    when salted.
    """
    if salt_partitions is None:
        return (sym.repartition("dst")
                .sortWithinPartitions("dst")
                .persist())
    salt = F.pmod(F.xxhash64(F.col("src")),
                  F.lit(salt_partitions)).cast("int")
    return (sym.withColumn("__salt", salt)
            .repartition("dst", "__salt")
            .sortWithinPartitions("dst", "__salt")
            .persist())


def connected_components(
    edges: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Connected components over an undirected dup-pair edge list →
    ``(id, component)`` with component = min node id in the component.

    The canonical close of a near-dup pipeline: LSH/Jaccard pairs are
    edges; keep one doc per component. Iterative min-label
    propagation with pointer-jumping (each round also replaces a
    node's label by its label's label), converging in O(log D)
    rounds; each round is ONE shuffle join + groupBy over the
    (self-loop-augmented) edge frame plus the jump self-join over
    the checkpointed label frame (edges are re-joined, never
    mutated). Lineage is cut per round with localCheckpoint — the
    analog of persisting intermediate label tables in an iterative
    cluster job — so plan size stays constant no matter the diameter.
    One certificate read per round is the floor for this shape:
    batching the reads is a measured dead end (OPTIMIZATION_r12.md §4).

    Skew (r12, guide §2.5): the static hash layout deliberately
    forgoes AQE skew splitting, so one degree histogram runs per call
    (a scan of the already-checkpointed edge frame + a tiny partial-
    agg shuffle, folded into the job that materializes the
    checkpoint). If the hottest dst holds > ``_CC_HUB_SHARE`` of a
    ≥``_CC_MIN_SALT_ROWS``-row frame, the layout switches to
    (dst, salt)-partitioning (see _cc_edge_layout) so the hub's rows
    spread over ``_CC_SALT_PARTITIONS`` tasks every round.
    Diagnostics of the decision land in ``_LAST_CC_INFO``.
    """
    sym = edges.select(F.col(id_a).cast("long").alias("src"),
                       F.col(id_b).cast("long").alias("dst"))
    sym = sym.union(sym.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
    # Self-loop edges (one per distinct node) fold the "min with the
    # node's own label" step INTO the neighbor-min aggregation: each
    # round becomes ONE shuffle join + ONE groupBy instead of the
    # former join + groupBy + second labels-join (r11 measured: the
    # extra join was ~1/3 of per-round wall). The self-loop also
    # guarantees every node survives the inner join, so no left-join
    # null handling is needed. (A union-of-contributions over the
    # LABELS frame would achieve the same but both union branches
    # sharing the labels LogicalRDD lineage trips a Catalyst planning
    # bug — "key not found: id#N"; self-loops live in the STATIC edge
    # frame, built once before the loop, so that bug never applies.)
    nodes = sym.select(F.col("src").alias("id")).distinct()
    sym = sym.union(nodes.select(F.col("id").alias("src"),
                                 F.col("id").alias("dst")))
    # The edge frame is STATIC across rounds but is the BIG side of
    # every round's neighbor-min join — hash-partition + sort it by
    # the join key ONCE and persist() (not localCheckpoint: a
    # checkpointed LogicalRDD reports UnknownPartitioning, so Catalyst
    # would re-Exchange+Sort the cached data every round; an
    # InMemoryRelation keeps its child's partitioning AND ordering).
    # Per-round join cost drops from Exchange+Sort(edges) +
    # Exchange+Sort(labels) to just the labels side — at bench scale
    # the labels side even auto-broadcasts (checkpoint stats propagate
    # from the origin plan), making rounds exchange-free on the edge
    # frame; at 100 TB it is the sort-merge join with the E-row side
    # pre-sorted, so only the N-row label frame moves per round.
    # Trade-off: a static hash layout forgoes AQE skew-splitting of
    # the join, but a hot dst (a giant dup cluster's hub) costs one
    # linear streaming task per round here vs re-shuffling E rows
    # every round — the exchange-free form wins (guide §2.4).
    # The localCheckpoint UNDER the cache cuts the edge-GENERATION
    # lineage out of every round's logical plan: persisting the raw
    # frame embeds the whole upstream subtree (an LSH edge build is
    # ~100+ operators) in each round's plan and Catalyst re-analyzes
    # it every round — measured ~0.7 s/query at bench scale. Cost:
    # the edge frame is held twice during the run (checkpoint RDD +
    # columnar cache), 16 B/edge each, both freed on exit.
    ecp = sym.localCheckpoint(eager=False)
    sc = edges.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")

    def _ckpt_rdd_id(df: DataFrame) -> int | None:
        """RDD id backing a localCheckpoint'ed frame: the analyzed
        plan is a LogicalRDD whose rdd is marked persisted at BUILD
        time, so per-round blocks can be freed deterministically by
        id. Best-effort: a py4j hiccup degrades to not freeing."""
        try:
            return df._jdf.queryExecution().analyzed().rdd().id()
        except Exception:
            return None

    def _unpersist_ids(ids: set) -> None:
        try:
            jmap = sc._jsc.getPersistentRDDs()
            for i in ids:
                if i in jmap:
                    jmap[i].unpersist(False)
        except Exception:
            pass

    def _build_round(labels_in: DataFrame) -> tuple[DataFrame, set]:
        """Plan ONE round (neighbor-min join + pointer jump), both
        halves lineage-cut with lazy localCheckpoints; returns the
        jumped frame plus the checkpoint RDD ids backing it."""
        # min over neighbor labels AND the node's own label in one
        # aggregation (self-loops supply the own-label contribution)
        lab = labels_in.select(F.col("id").alias("dst"),
                               F.col("comp").alias("dcomp"))
        if nsalt:
            # salted layout: replicate each label row nsalt ways so
            # the join keys on (dst, __salt) and reuses the salted
            # edge partitioning — N×nsalt small label rows cross vs
            # the hub's E rows serializing into one task per round.
            # sequence(int, int) yields int elements — matching the
            # layout's cast("int") salt (a generator can't be nested
            # under a cast)
            lab = lab.withColumn(
                "__salt",
                F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1))))
            joined = layout.join(lab, ["dst", "__salt"])
        else:
            joined = layout.join(lab, "dst")
        stepped = (joined
                   .groupBy("src").agg(F.min("dcomp").alias("comp"))
                   .select(F.col("src").alias("id"), "comp")
                   # checkpoint BEFORE the jump self-join: both jump
                   # sides read one cached RDD instead of each
                   # recomputing the neighbor-min join (r11: the
                   # un-checkpointed form paid that join twice per
                   # round)
                   .localCheckpoint(eager=False))
        # pointer jump: comp := comp of comp
        jumped = (stepped.alias("s")
                  .join(stepped.select(F.col("id").alias("cid"),
                                       F.col("comp").alias("ccomp"))
                        .alias("t"),
                        F.col("s.comp") == F.col("t.cid"), "left")
                  .select(F.col("s.id").alias("id"),
                          F.coalesce(F.col("t.ccomp"),
                                     F.col("s.comp")).alias("comp"))
                  # lazy checkpoint: the convergence agg is the ONE
                  # job per round — it materializes both checkpoints
                  # as a side effect AND reads the certificate, where
                  # an eager checkpoint costs a second pass (measured
                  # ~35% of wall on sf0.1 graphs)
                  .localCheckpoint(eager=False))
        return jumped, ({_ckpt_rdd_id(stepped), _ckpt_rdd_id(jumped)}
                        - {None})

    # Blocks this call owns until it returns: the edge checkpoint
    # (the layout cache's recompute source under memory pressure),
    # the layout cache itself and the initial labels (setup), plus
    # the live round's checkpoints. The finally frees all of them on
    # every exit — error paths included — except the blocks backing
    # the returned frame (``live`` is cleared on success).
    setup_ids = {_ckpt_rdd_id(ecp)} - {None}
    layout = None
    live: set = set()
    try:
        # Degree histogram (guide §2.5): the job that materializes
        # the edge checkpoint also reads max/total dst degree — the
        # skew evidence the static layout needs. Map-side partial agg
        # keeps the shuffle at one row per distinct dst.
        sc.setJobDescription(
            "connected_components: edge degree histogram")
        deg = (ecp.groupBy("dst").agg(F.count(F.lit(1)).alias("__d"))
               .agg(F.max("__d"), F.sum("__d")).first())
        top_deg = deg[0] or 0
        total_rows = deg[1] or 0
        _LAST_CC_INFO.clear()
        if total_rows == 0:
            # Empty edge frame (no dup pairs at all — common for
            # clean corpora): converged before round 0. The degree
            # read above already proved it; skip the layout build and
            # the round loop entirely.
            _LAST_CC_INFO.update(
                top_dst_share=0.0, total_edge_rows=0, salted=False,
                salt_partitions=None, rounds=0)
            return edges.sparkSession.createDataFrame(
                [], "id long, component long")
        top_share = top_deg / total_rows
        salted = (total_rows >= _CC_MIN_SALT_ROWS
                  and top_share > _CC_HUB_SHARE)
        nsalt = _CC_SALT_PARTITIONS if salted else None
        _LAST_CC_INFO.update(
            top_dst_share=top_share, total_edge_rows=total_rows,
            salted=salted, salt_partitions=nsalt)
        if salted:
            import logging

            logging.getLogger(__name__).info(
                "connected_components: hub dst holds %.1f%% of %d "
                "edge rows — salting the round join over %d "
                "partitions", 100 * top_share, total_rows, nsalt)
        layout = _cc_edge_layout(ecp, nsalt)
        # Initial labels read back out of the persisted frame's
        # self-loops (src==dst ⇔ exactly the distinct node set) — a
        # columnar-cache filter instead of recomputing the distinct.
        labels = (layout.filter(F.col("src") == F.col("dst"))
                  .select(F.col("src").alias("id"),
                          F.col("src").alias("comp"))
                  .localCheckpoint(eager=False))
        setup_ids |= {_ckpt_rdd_id(labels)} - {None}
        # Convergence certificate: every node's label is monotone
        # non-increasing (the self-loop contributes its old value to
        # the min; the jump target is a label of a node whose label
        # <= its id), so sum(comp) unchanged <=> no label changed.
        # Reading the sum is ONE scheduler job over the lazily-
        # checkpointed frame (the agg action materializes the round's
        # checkpoints as a side effect) vs the naive jumped-vs-labels
        # join + count, which costs a shuffle join and two extra jobs
        # per round.
        prev_sum = None
        for round_no in range(_CC_MAX_ROUNDS):
            # Label each round's job (guide §1.5) so the UI/event log
            # maps scheduler jobs back to CC rounds; the caller's
            # description is restored on exit.
            sc.setJobDescription(
                f"connected_components: round {round_no}")
            labels, round_ids = _build_round(labels)
            live |= round_ids
            cur_sum = labels.agg(F.sum("comp")).first()[0]
            _LAST_CC_INFO["rounds"] = round_no + 1
            # The previous round's checkpoints are dead once this
            # round's action has run (it materialized everything that
            # read them) — freed by id so resident memory stays
            # O(labels), not O(labels × rounds), on high-diameter
            # graphs.
            _unpersist_ids(live - round_ids)
            live = round_ids
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        result = labels.select(F.col("id"),
                               F.col("comp").alias("component"))
        live = set()   # the returned frame owns the last round's blocks
        return result
    finally:
        sc.setJobDescription(caller_desc)
        if layout is not None:
            layout.unpersist(False)
        _unpersist_ids(setup_ids | live)


def dedup_by_components(
    df: DataFrame, edges: DataFrame, id_col: str,
    id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Keep the canonical (min-id) document of every near-dup
    component; singletons (no edges) survive untouched. Left-anti
    join against the non-canonical member set — the edge frame is
    tiny relative to the corpus, so the anti-join broadcast-prunes."""
    comp = connected_components(edges, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("component")) \
                 .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")
