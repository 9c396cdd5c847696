"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All operators are pure DataFrame pipelines (explode/agg/join — no Python in
the hot path) and deterministic: MinHash uses ``xxhash64(shingle, seed_i)``
with fixed seeds instead of MLlib's randomly-initialized ``MinHashLSH`` so
reruns and resumed jobs bucket identically.

Scale notes (100 TB): candidate generation is always equi-join on a derived
key (shingle, band-hash, simhash band) — cost is Σ bucket² not n²; a
document-frequency cap drops ultra-common shingles that would otherwise
create quadratic hot buckets (same idea as stop-word removal in web-dedup
pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..bounds import bounded_collect


def _norm_text(col="text"):
    """Canonical text form: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups by content hash: (content_hash, dup_count,
    keep_id) for groups with >1 member. Hash-groupBy — one shuffle on the
    128-bit content key, no pairwise comparison."""
    h = docs.select(F.col(id_col), F.md5(_norm_text(text_col)).alias("content_hash"))
    return (
        h.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dup_count"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per exact content group."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(_norm_text(text_col))).orderBy(F.col(id_col))
    return docs.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _shingles(text_col: str, n: int):
    """Word n-gram shingle array (distinct).

    Built as ``n-1`` zip_with passes over shifted slices of the token array
    instead of a per-window ``slice`` inside ``transform`` — the per-window
    slice allocates a fresh n-element array per shingle and measured as the
    dominant cost of every shingle-consuming scan (same finding as
    ``text.bigram_repetition``). The null-safe concat reproduces the
    partial-shingle behavior for docs shorter than ``n`` tokens (zip_with
    pads the shorter shifted slice with nulls; concat_ws in the old form
    skipped the missing tokens the same way)."""
    toks = F.split(_norm_text(text_col), " ")
    if n == 1:
        return F.array_distinct(toks)
    out_len = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    acc = F.slice(toks, 1, out_len)
    for k in range(1, n):
        nxt = F.slice(toks, k + 1, out_len)
        acc = F.zip_with(
            acc,
            nxt,
            lambda a, b: F.when(b.isNull(), a).otherwise(F.concat(a, F.lit(" "), b)),
        )
    return F.array_distinct(acc)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Pipeline: shingle → explode → self-equi-join on shingle → count common
    shingles per (a,b) → jaccard = |∩| / (|A|+|B|−|∩|) → threshold. The join
    key is the shingle, so Spark plans a shuffled hash join keyed on content;
    ``max_shingle_df`` drops shingles appearing in more than that many docs
    (skew/quadratic-blowup guard — at web scale this is mandatory).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6.
    """
    return jaccard_pairs_from_hashes(
        hashed_shingles(docs, id_col, text_col, n),
        threshold=threshold,
        max_shingle_df=max_shingle_df,
        persist=True,
    )


def jaccard_pairs_from_hashes(
    hashes: DataFrame,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    persist: bool = False,
) -> DataFrame:
    """Exact-Jaccard near-dup pairs from a pre-built ``(id, h)`` frame
    (:func:`hashed_shingles`).

    ``persist``: defaults to False — callers that already materialized the
    frame (the `plans/text_marts.py` path) get no second cache of the same
    rows. ``persist=True`` (the standalone :func:`ngram_jaccard_pairs`
    path, where the shingle explode would otherwise re-run per consumer)
    caches MEMORY_AND_DISK through the :mod:`..cachectl` ledger, so the
    CALLER can release the pin deterministically with
    ``cachectl.release_tracked()`` after materializing the result —
    per-frame, instead of the blunt ``spark.catalog.clearCache()``
    (r11 ADVICE; the harness does this after every query).

    Shingles arrive collapsed to a 64-bit xxhash: the shuffle moves 8-byte
    keys instead of ~n·word strings, and hash/compare in the join is
    constant-time (collision odds for d distinct shingles ≈ d²/2⁶⁵ —
    negligible against near-dup thresholds)."""
    # The shingle frame feeds three consumers (sizes, both join sides);
    # persist so the regex-normalize + shingle explode — the scan-cost term
    # at 100 TB — runs once, not per consumer. ReuseExchange already dedupes
    # the two identical join-side shuffles; persistence removes the
    # remaining recomputation for the sizes aggregate.
    sh = hashes.select("id", F.col("h").alias("shingle"))
    if persist:
        from ..cachectl import tracked_persist

        sh = tracked_persist(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    if max_shingle_df is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(freq.filter(F.col("df") <= max_shingle_df).select("shingle"), "shingle")
    # SHUFFLE_HASH: the join key (shingle) has high multiplicity, so the
    # sort-merge sort buys nothing while the pair emission dominates; a
    # shuffled hash join skips both sorts. Spark falls back gracefully if the
    # build side doesn't fit.
    a, b = sh.alias("a"), sh.hint("SHUFFLE_HASH").alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    lossless, unlike LSH, yet avoids ``ngram_jaccard_pairs``'s full
    shingle self-join.

    Principle: order each doc's shingle set by GLOBAL document frequency
    (rarest first). If jaccard(x, y) >= t, then x and y must share at least
    one shingle in their first ``|x| - ceil(t*|x|) + 1`` shingles under any
    common total order. So only the ~``(1-t)``-fraction prefix is indexed
    and self-joined — at t=0.8 the candidate-generating join touches ~20% of
    the shingle volume, and rarest-first ordering makes those the LOWEST-
    multiplicity shingles, exactly the opposite end from the hot buckets
    that force ``max_shingle_df`` capping in the full self-join. Candidates
    are then verified exactly with a length filter and one row-local
    ``array_intersect``.

    At 100 TB: two shuffles build the ordered sets (df-count join + groupBy
    id), the candidate join moves only prefix rows, and verification moves
    full token arrays for CANDIDATE pairs only (output-bounded, not
    corpus-bounded). Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    from ..cachectl import tracked_persist

    # The shingle stream feeds two consumers (df counts, the ordered-set
    # build) and the ordered-set frame feeds three (prefix index, both
    # verification sides): persist both, or the scan+shingle pipeline — the
    # corpus-cost term at 100 TB — re-runs per consumer (measured 8 corpus
    # scans / 0 reused exchanges without). Runtime exchange reuse can NOT
    # dedupe these (each consumer shuffles to a different key: ptok / id_a /
    # id_b), so unlike triangle_count the cache pays: sf1 warm 6.2s
    # persisted vs 10.2s not. Tracked (cachectl): harness-releasable.
    sh = tracked_persist(
        docs.select(
            F.col(id_col).alias("id"), F.explode(_shingles(text_col, n)).alias("sgl")
        ).select("id", F.xxhash64("sgl").alias("shingle"))
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # Global rarest-first order = (df, shingle); the per-doc sorted array is
    # assembled in one groupBy, so the order never needs a global rank table.
    prefix_len = (
        F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + F.lit(1)
    ).cast("int")
    # Hapax pruning (lossless): a df==1 shingle exists in exactly ONE doc,
    # so it can never equal another doc's shingle in the candidate join,
    # and it can never contribute to any |A∩B| — drop hapaxes from the
    # prefix probe AND the verify arrays. Zipf makes hapaxes the BULK of
    # the rarest-first prefix, so this collapses the candidate-join input.
    # Order of operations matters: the prefix boundary is fixed on the
    # FULL ordered set first (the theorem's prefix is over all of |x|),
    # THEN df==1 entries are filtered out of the slice. set_size stays the
    # full distinct count (it is the Jaccard denominator).
    grouped = (
        sh.join(freq, "shingle")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("__ord"),
            F.count(F.lit(1)).alias("set_size"),
        )
        .select(
            "id",
            "set_size",
            F.transform(
                F.filter(F.slice("__ord", 1, prefix_len), lambda s: s["df"] > 1),
                lambda s: s["shingle"],
            ).alias("ptoks"),
            F.transform(
                F.filter("__ord", lambda s: s["df"] > 1), lambda s: s["shingle"]
            ).alias("toks"),
        )
    )
    grouped = tracked_persist(grouped)
    prefix = grouped.select("id", F.explode("ptoks").alias("ptok"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.ptok") == F.col("b.ptok")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ga = grouped.select(
        F.col("id").alias("id_a"), F.col("set_size").alias("size_a"), F.col("toks").alias("toks_a")
    )
    gb = grouped.select(
        F.col("id").alias("id_b"), F.col("set_size").alias("size_b"), F.col("toks").alias("toks_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cand.join(ga, "id_a")
        # Length filter (|y| >= t|x| is necessary for jaccard >= t) prunes
        # before the second, array-carrying join.
        .join(gb, "id_b")
        .filter(
            (F.col("size_b") >= F.ceil(F.lit(threshold) * F.col("size_a")))
            & (F.col("size_a") >= F.ceil(F.lit(threshold) * F.col("size_b")))
        )
        .withColumn(
            "jaccard",
            F.round(inter / (F.col("size_a") + F.col("size_b") - inter), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    stats: dict | None = None,
) -> DataFrame:
    """DIRECTED near-subset pairs: (contained_id, container_id, containment)
    with ``containment = |A∩B| / |A| >= threshold`` over distinct word
    n-gram shingles. The asymmetric twin of the Jaccard join — it catches
    quotes, partial copies, and doc-inside-doc duplication that a symmetric
    Jaccard threshold misses when the container is much larger (jaccard
    ≈ |A|/|B| → 0 while containment stays 1).

    Candidate generation is the asymmetric prefix filter (PPJoin family,
    Xiao et al. WWW'08): order each doc's shingles by global document
    frequency (rarest first); if C(A→B) ≥ t then B contains one of A's
    first ``|A| - ceil(t·|A|) + 1`` shingles under that order, so only A's
    prefix probes the index — but unlike the Jaccard join the B side must
    index ALL its shingles (a container can be arbitrarily large, so there
    is no symmetric prefix on B). Rarest-first ordering keeps the probe on
    the LOW-multiplicity end of the index. Verification is one row-local
    ``array_intersect`` on candidate pairs only, after the necessary size
    filter ``|B| >= ceil(t·|A|)``.

    At 100 TB: two shuffles build the df-ordered sets, the candidate join
    moves A-prefix rows against the full index (rare-token postings), and
    full shingle arrays move for candidates only — output-bounded.
    """
    sh = docs.select(
        F.col(id_col).alias("id"), F.explode(_shingles(text_col, n)).alias("sgl")
    ).select("id", F.xxhash64("sgl").alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = (
        F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + F.lit(1)
    ).cast("int")
    # Hapax pruning (lossless — see prefix_jaccard_pairs): df==1 shingles
    # can't match any OTHER doc in the candidate join nor contribute to
    # |A∩B|, so they are dropped from the probe prefix (boundary fixed on
    # the full order FIRST), the full index, and the verify arrays;
    # set_size keeps the full distinct count (the containment denominator).
    grouped = (
        sh.join(freq, "shingle")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("__ord"),
            F.count(F.lit(1)).alias("set_size"),
        )
        .select(
            "id",
            "set_size",
            F.transform(
                F.filter(F.slice("__ord", 1, prefix_len), lambda s: s["df"] > 1),
                lambda s: s["shingle"],
            ).alias("ptoks"),
            F.transform(
                F.filter("__ord", lambda s: s["df"] > 1), lambda s: s["shingle"]
            ).alias("toks"),
        )
    )
    from ..cachectl import tracked_persist

    # consumed by three branches (prefix probe, full index, both verify
    # sides) that shuffle to different keys — the measured prefix-join
    # persist rationale applies unchanged (tracked: harness-releasable)
    grouped = tracked_persist(grouped)
    # probe/index rows carry their set size so the |B| >= ceil(t*|A|)
    # size filter runs INSIDE the candidate join — pairs that can never
    # qualify are dropped before the distinct and before any full shingle
    # array ships to the verify joins (previously the filter sat after
    # both array joins, moving arrays for hopeless candidates).
    #
    # r10 (VERDICT r9 #4) — PPJoin+ POSITIONAL filter (Xiao et al. WWW'08
    # §3.2): both arrays are sorted by the same global (df, shingle) order,
    # so when probe token at position i of A's ordered non-hapax set A'
    # matches index token at position j of B', every OTHER intersection
    # token lies strictly after i in A' AND after j in B' **whenever this
    # is the pair's FIRST common token** — hence
    #   |A∩B| <= 1 + min(|A'| - 1 - i, |B'| - 1 - j).
    # Containment >= t needs |A∩B| >= ceil(t·|A|) (full set_size — the
    # denominator keeps hapaxes; the intersection cannot, so bounding with
    # hapax-filtered tails is valid). Keeping a pair if ANY generating
    # match passes is lossless: for a true positive the first common token
    # is df>=2 (it is shared), sits inside A's prefix (the prefix theorem),
    # and its bound >= |A∩B| >= the requirement. False candidates whose
    # only shared prefix tokens sit deep in either tail die HERE, before
    # the distinct and the array-carrying verify joins.
    probe = grouped.select(
        "id",
        F.col("set_size").alias("sz"),
        F.size("toks").alias("nt"),
        F.posexplode("ptoks").alias("pos", "ptok"),
    )
    index = grouped.select(
        "id",
        F.col("set_size").alias("sz"),
        F.size("toks").alias("nt"),
        F.posexplode("toks").alias("pos", "ptok"),
    )
    a, b = probe.alias("a"), index.alias("b")
    ub = 1 + F.least(
        F.col("a.nt") - 1 - F.col("a.pos"), F.col("b.nt") - 1 - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col("a.id") != F.col("b.id"))
            & (F.col("b.sz") >= F.ceil(F.lit(threshold) * F.col("a.sz")))
            & (ub >= F.ceil(F.lit(threshold) * F.col("a.sz"))),
        )
        .select(F.col("a.id").alias("contained_id"), F.col("b.id").alias("container_id"))
        .distinct()
    )
    if stats is not None:
        # ladder diagnostics (scripts/containment_ladder.py): materialize
        # the candidate frame once and record its size — off the default
        # path so production plans stay single-pass. Tracked (r12 ADVICE):
        # the in-process ladder runs three rungs in one session, and a
        # bare checkpoint here would outlive release_tracked()/clearCache()
        # between rungs.
        from ..cachectl import tracked_local_checkpoint

        cand = tracked_local_checkpoint(cand)
        stats["candidates"] = cand.count()
    ga = grouped.select(
        F.col("id").alias("contained_id"),
        F.col("set_size").alias("size_a"),
        F.col("toks").alias("toks_a"),
    )
    gb = grouped.select(
        F.col("id").alias("container_id"),
        F.col("set_size").alias("size_b"),
        F.col("toks").alias("toks_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cand.join(ga, "contained_id")
        .join(gb, "container_id")
        .filter(F.col("size_b") >= F.ceil(F.lit(threshold) * F.col("size_a")))
        .withColumn("containment", F.round(inter * 1.0 / F.col("size_a"), 6))
        .filter(F.col("containment") >= threshold)
        .select("contained_id", "container_id", "containment")
    )


def containment_pairs_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    stats: dict | None = None,
) -> DataFrame:
    """Banded-LSH rung of the containment accuracy-vs-cost ladder
    (VERDICT r11 #6): MinHash-LSH candidate generation + exact directed
    containment verification on candidates only.

    The DECLARED approximation: LSH banding recalls pairs by their
    symmetric JACCARD (P(candidate | j) = 1 − (1 − j^r)^b, ≈ 0.9998 at
    j = 0.8 for 16×4), so high-containment / low-Jaccard pairs — a small
    doc quoted inside a much larger one, where j ≈ |A|/|B| → 0 while
    C(A→B) = 1 — can be MISSED. That asymmetric blind spot is exactly
    what the exact PPJoin rung (:func:`containment_pairs`) pays its
    full-index join for; the ladder (scripts/containment_ladder.py,
    SCALING.md) quantifies the trade per rung: candidates, wall,
    recall-of-true-pairs. Scale shape: candidate volume is bucket-
    collision-bounded (never the all-pairs |sharing a shingle| volume of
    the naive rung), and full shingle sets move for candidates only.
    """
    from ..cachectl import tracked_persist

    sh = tracked_persist(hashed_shingles(docs, id_col, text_col, n))
    sigs = minhash_signatures_from_hashes(sh, num_hashes=num_hashes)
    cand = minhash_lsh_candidates(sigs, bands=bands, rows_per_band=rows_per_band)
    if stats is not None:
        # tracked for the same reason as the exact rung's stats branch:
        # the ladder harness releases between rungs (r12 ADVICE)
        from ..cachectl import tracked_local_checkpoint

        cand = tracked_local_checkpoint(cand)
        stats["candidates"] = cand.count()
    sets = sh.groupBy("id").agg(F.collect_set("h").alias("hs"))
    xa = sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    xb = sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    # one consumer of the candidate-verify join: both directions explode
    # from the same row (the dd_snapshot_dedup_rate symmetrize lesson)
    directed = (
        cand.join(xa, "id_a")
        .join(xb, "id_b")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("contained_id"),
                        F.col("id_b").alias("container_id"),
                        F.round(inter * 1.0 / F.size("hs_a"), 6).alias("containment"),
                    ),
                    F.struct(
                        F.col("id_b").alias("contained_id"),
                        F.col("id_a").alias("container_id"),
                        F.round(inter * 1.0 / F.size("hs_b"), 6).alias("containment"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
    )
    return directed.filter(F.col("containment") >= threshold)


def hashed_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The shared root frame of the shingle-dedup family: one ``(id, h)``
    row per distinct word-``n``-gram, with the variable-length shingle
    string collapsed to a 64-bit ``xxhash64`` at the source. Every
    downstream consumer (MinHash signatures, exact-Jaccard joins, df
    capping) works off the 8-byte key — the shuffle moves fixed-width
    longs, and in mart form (`plans/text_marts.py`) this frame
    materializes ONCE for the whole family instead of per query."""
    return docs.select(
        F.col(id_col).alias("id"), F.explode(_shingles(text_col, n)).alias("shingle")
    ).select("id", F.xxhash64("shingle").alias("h"))


def minhash_signatures_from_hashes(sh: DataFrame, num_hashes: int = 64) -> DataFrame:
    """MinHash signatures from a pre-built ``(id, h)`` hashed-shingle frame
    (see :func:`hashed_shingles`): ``sig[i] = min(xxhash64(h, seed=i))``.
    One groupBy with ``num_hashes`` min-aggregates — a single shuffle,
    map-side combined."""
    aggs = [F.min(F.xxhash64("h", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature"))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Deterministic MinHash signatures via two-level hashing: the variable-
    length shingle string is hashed ONCE (``h = xxhash64(shingle)``), then the
    ``num_hashes`` family members re-hash only that fixed 8-byte long
    (``sig[i] = min(xxhash64(h, seed=i))``). Same independence as hashing the
    string per seed, but the per-seed work drops from O(len(shingle)) to
    O(8 bytes) — ~an order of magnitude less CPU on the dominant stage."""
    return minhash_signatures_from_hashes(
        hashed_shingles(docs, id_col, text_col, n), num_hashes=num_hashes
    )


def banded_buckets(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Explode MinHash signatures into LSH band buckets: one
    ``(id, band, bucket)`` row per band, where ``bucket`` is a 64-bit hash of
    that band's ``rows_per_band``-hash slice. Two docs sharing any
    (band, bucket) are LSH candidates. This banded form is also the
    PERSISTED INDEX layout for incremental dedup: partitioned/bucketed by
    ``band`` it prunes an index probe to matching partitions only."""
    return signatures.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("signature"), bi * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` hashes, hash each band, equi-join docs sharing any
    (band_index, band_hash) bucket. Returns distinct candidate pairs
    (id_a < id_b). Probability a pair with Jaccard s collides:
    1 − (1 − s^r)^b."""
    banded = banded_buckets(signatures, bands, rows_per_band)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def signature_agreement(num_hashes: int) -> "F.Column":
    """Estimated Jaccard from two MinHash signature columns ``sig`` and
    ``idx_sig`` in scope: the fraction of agreeing hash positions. Unbiased
    estimator of J(A,B); exact duplicates agree on every position, so the
    estimate is exactly 1.0 for byte-identical text."""
    agree = F.size(
        F.filter(
            F.zip_with("sig", "idx_sig", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return agree.cast("double") / F.lit(float(num_hashes))


def dedup_against_index(
    new_sigs: DataFrame,
    index_sigs: DataFrame,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental (snapshot-over-snapshot) near-dup detection: flag docs in
    a NEW batch whose estimated Jaccard against ANY already-indexed corpus
    doc is ≥ ``threshold``. Inputs are ``(id, signature)`` frames from
    :func:`minhash_signatures` — the signature table IS the persisted corpus
    index. Returns ``(id, idx_id, est_jaccard)`` for flagged batch docs.

    This is how dedup actually runs at 100 TB: each crawl snapshot dedups
    against the accumulated corpus WITHOUT re-reading corpus text. Only
    banded keys (``bands`` × 16 bytes/doc) and signatures (``num_hashes`` ×
    8 bytes/doc) ever move; the join is an equi-join shuffled on
    (band, bucket), and an index table partitioned by ``band`` (see
    :func:`banded_buckets`) prunes the probe to matching partitions.
    Candidate verification re-joins signatures — bounded by the candidate
    count, not the corpus. Exact copies of an indexed doc share every band
    bucket and agree on every hash position, so they are flagged with
    est_jaccard = 1.0 deterministically (the planted-copy invariant the
    driver query checks end-to-end)."""
    b_new = banded_buckets(new_sigs, bands, rows_per_band)
    b_idx = banded_buckets(index_sigs, bands, rows_per_band).select(
        F.col("id").alias("idx_id"), "band", "bucket"
    )
    cand = b_new.join(b_idx, ["band", "bucket"]).select("id", "idx_id").distinct()
    return (
        cand.join(new_sigs.select("id", F.col("signature").alias("sig")), "id")
        .join(
            index_sigs.select(
                F.col("id").alias("idx_id"), F.col("signature").alias("idx_sig")
            ),
            "idx_id",
        )
        .select("id", "idx_id", signature_agreement(num_hashes).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.8,
) -> dict:
    """One incremental-dedup step: signature the new batch, flag near-dups
    against the corpus index, and return

    - ``flagged``: (id, idx_id, est_jaccard) batch docs matching the corpus,
    - ``survivors``: new_docs with flagged ids anti-joined away,
    - ``updated_index``: index ∪ surviving batch signatures — the input to
      the NEXT snapshot's step.

    Intra-batch near-dups are the caller's choice (run
    :func:`minhash_lsh_candidates` + :func:`connected_components` on the
    surviving signatures); this step is deliberately corpus-vs-batch only so
    the index update is append-only — O(1) commit on a versioned sink."""
    sigs_new = minhash_signatures(
        new_docs, id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes
    )
    flagged = dedup_against_index(
        sigs_new,
        index_sigs,
        num_hashes=num_hashes,
        bands=bands,
        rows_per_band=rows_per_band,
        threshold=threshold,
    )
    dup_ids = flagged.select("id").distinct()
    survivors = new_docs.join(
        dup_ids.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    updated_index = index_sigs.unionByName(
        sigs_new.join(dup_ids, "id", "left_anti")
    )
    return {"flagged": flagged, "survivors": survivors, "updated_index": updated_index}


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sum ±1 across token hashes,
    bit set where the sum is positive. Near-dup distance = hamming distance
    between fingerprints.

    ZERO shuffles: the per-bit ±1 sum is a per-document statistic, so it
    folds row-locally — hash the distinct-token array once, then per bit
    count set-bit tokens with an array ``filter`` (sum > 0 ⇔ 2·count_set >
    n_tokens) and assemble the fingerprint with bit arithmetic. The v1 shape
    (explode + 64 conditional sums) shuffled the whole token stream to
    compute what each row already knew (same finding as
    ``text.bigram_repetition``).

    Output contract: one row per input row WITH at least one token —
    null/empty-token documents are dropped (an empty doc has no meaningful
    fingerprint; emitting the all-zero word would pair every empty doc as a
    hamming-distance-0 near-dup). Duplicate ids are NOT collapsed: callers
    feeding non-unique ids get one fingerprint row per input row."""
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    # materialize the hash array in its own projection: Catalyst does NOT
    # common-subexpression-eliminate across higher-order lambdas, so
    # referencing the transform expression inside all 64 filters would
    # re-tokenize and re-hash the document 64 times
    hashed = docs.select(
        F.col(id_col).alias("id"),
        F.transform(
            # array_remove drops the "" token a split of empty/whitespace
            # text produces, so blank docs land size-0 and are filtered out
            F.array_remove(F.array_distinct(F.split(_norm_text(text_col), " ")), ""),
            lambda tok: F.xxhash64(tok),
        ).alias("__hs"),
    )
    hs = F.col("__hs")
    n = F.size(hs)
    fp = None
    for i in range(bits):
        # shiftleft(1L, 63) wraps to Long.MIN_VALUE — exactly the two's
        # complement weight of the sign bit, so the fingerprint fits a long
        mask = F.shiftleft(one, i)
        cnt = F.size(F.filter(hs, lambda h: h.bitwiseAND(mask) != 0))
        term = F.when(cnt * 2 > n, mask).otherwise(zero)
        fp = term if fp is None else fp + term
    return hashed.filter(F.size(hs) > 0).select("id", fp.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Cluster assignment over near-duplicate pairs: connected components by
    iterative min-label propagation (each node repeatedly takes the smallest
    label among itself and its neighbors until fixpoint).

    This is the step a dedup pipeline needs after candidate generation —
    near-dup similarity is not transitive, so keep-one-per-cluster decisions
    must operate on components, not raw pairs. Returns (doc_id, cluster_id)
    for every node that appears in at least one pair, cluster_id = the
    smallest doc_id in the component (deterministic).

    Scale notes: each round is a neighbor-min shuffle (edges ⋈ labels,
    grouped min) followed by a pointer-jumping step (label := label of the
    current label), so the propagation distance doubles per round and
    convergence takes O(log diameter) rounds instead of O(diameter) — the
    difference between ~5 and ~50 scheduled jobs on chain-shaped clusters
    (measured: a 10⁴-node path graph — diameter 10⁴ — converges in 13
    rounds ≈ log₂(10⁴), pinned by
    ``tests/test_scale_operators.py::test_connected_components_chain_converges_in_log_rounds``).
    ``localCheckpoint(eager=True)`` truncates the lineage every round —
    without it the plan doubles per pass and the job dies on plan size long
    before data size. At web scale the same loop body is the
    large-star/small-star algorithm's skeleton.

    ``stats`` (optional dict) receives ``{"rounds": n}`` — the number of
    label-propagation rounds executed before the fixpoint proof.
    """
    # Materialize the pair list before mirroring it: the union below consumes
    # it twice, and without this the (expensive) candidate-generation subtree
    # runs once per direction.
    und = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).localCheckpoint(eager=True)
    mirrored = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # self-loops fold the "keep own label" branch into the neighbor-min
    # aggregate, so each round is ONE join+agg instead of a join+agg followed
    # by a left-join-back (one shuffle fewer per round)
    edges = mirrored.union(
        mirrored.select(F.col("a"), F.col("a").alias("b"))
    ).distinct()
    edges = edges.persist()
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    labels = labels.localCheckpoint(eager=True)
    prev_sum = None
    rounds = 0
    for _ in range(max_iter):
        stepped = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("label"))
            .select(F.col("a").alias("id"), "label")
        )
        # pointer jumping: label := label(label). Every label value is itself
        # a node id, so the self-join always resolves; distance doubles.
        x, y = stepped.alias("x"), stepped.alias("y")
        labels = (
            x.join(y, F.col("x.label") == F.col("y.id"), "left")
            .select(
                F.col("x.id").alias("id"),
                F.coalesce(F.col("y.label"), F.col("x.label")).alias("label"),
            )
            # r15 (VERDICT r14 #8): LAZY checkpoint — the fixpoint sum right
            # below is the round's first action and computes every partition,
            # so it materializes the checkpoint as a side effect: ONE driver
            # job per round where eager=True spent two (checkpoint job +
            # sum job). Lineage truncation and checkpoint contents are
            # identical; measured A/B in OPTIMIZATION_r15.md.
            .localCheckpoint(eager=False)
        )
        # labels only ever decrease; an unchanged sum is a fixpoint proof
        # (this action also materializes the lazy checkpoint above)
        rounds += 1
        s = labels.agg(F.sum("label")).first()[0]
        if prev_sum is not None and s == prev_sum:
            break
        prev_sum = s
    edges.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share at least
    ``min_shared`` distinct ``n``-token shingles with *any* eval doc — the
    standard n-gram-overlap test-set contamination check run before
    pre-training. Returns ``(id_col, n_shared_shingles)`` for flagged docs;
    anti-join it against the corpus to drop them.

    Scale shape: the eval side (benchmarks) is tiny relative to a 100 TB
    corpus, so its distinct shingle set is broadcast — the training scan
    never shuffles for the probe; the only shuffle is the per-doc count.
    Docs shorter than ``n`` tokens carry no shingles and cannot be flagged.
    """
    toks_ok = F.size(F.split(_norm_text(text_col), " ")) >= n
    ev = (
        eval_docs.filter(toks_ok)
        .select(F.explode(_shingles(text_col, n)).alias("shingle"))
        .distinct()
    )
    tr = train.filter(toks_ok).select(
        F.col(id_col), F.explode(_shingles(text_col, n)).alias("shingle")
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_shared)
    )


def duplicated_ngram_spans(
    docs: DataFrame,
    n: int = 20,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for each document, the
    maximal token spans whose every length-``n`` window also appears in at
    least ``min_docs`` distinct documents. The scalable k-gram-anchor
    variant of suffix-array dedup: a span duplicated across docs is exactly
    a run of consecutive duplicated n-gram starts, so anchors + run-merge
    recover the maximal spans without any suffix array.

    Returns one row per (doc, span): ``(id, span_start, span_end,
    span_tokens)`` in 0-based token positions, end inclusive.

    Scale shape: three shuffles, all key-partitioned —
      1. n-gram document frequency (map-side partial combine on the gram
         key; grams are xxhash64-compressed to 8-byte keys before the
         shuffle so width is constant in ``n``),
      2. anchor join back on the gram key (only grams with df ≥
         ``min_docs`` survive the build side),
      3. per-doc run-merge (gaps-and-islands window, one partition per doc).
    ``max_df`` optionally drops boilerplate ultra-common grams (skew cap
    for the join, same role as ``max_shingle_df`` in the Jaccard join).
    Documents shorter than ``n`` tokens emit nothing.
    """
    from pyspark.sql import Window

    toks = F.split(_norm_text(text_col), " ")
    base = docs.select(F.col(id_col).alias("id"), toks.alias("__t")).filter(
        F.size("__t") >= n
    )
    out_len = F.size("__t") - (n - 1)
    acc = F.slice("__t", 1, out_len)
    for k in range(1, n):
        nxt = F.slice("__t", k + 1, out_len)
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    # 8-byte gram keys: constant shuffle width regardless of n (a 20-gram
    # string is ~120 bytes; the hash is 8). Collisions at 64 bits are
    # birthday-bounded ~1e-9 per 6M grams — acceptable for dedup counting.
    # Persisted: the positional gram stream feeds BOTH the df count and the
    # anchor join, and the normalize+gram-build scan is the dominant cost
    # (same two-consumer device as ngram_jaccard_pairs). Tracked:
    # harness-releasable (cachectl).
    from ..cachectl import tracked_persist

    grams = tracked_persist(
        base.select(
            "id",
            F.posexplode(F.transform(acc, lambda g: F.xxhash64(g))).alias("pos", "gh"),
        )
    )
    df_agg = grams.groupBy("gh").agg(F.count_distinct("id").alias("df"))
    dup = df_agg.filter(F.col("df") >= min_docs)
    if max_df is not None:
        dup = dup.filter(F.col("df") <= max_df)
    anchors = grams.join(dup.select("gh"), "gh").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    return (
        anchors.withColumn("__grp", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 20,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. 2022 §4): for
    every duplicated span, ONE canonical occurrence survives (the doc with
    the minimum id among docs carrying an identical-content span) and every
    other occurrence is cut out of its document's token stream. Returns the
    input schema with ``text_col`` rewritten (other columns preserved).

    Span identity is the xxhash64 of the span's token content, so only
    spans with IDENTICAL content dedup against each other; docs whose
    maximal runs extend differently (one doc embeds a longer duplicated
    run) keep their distinct variants — the conservative choice: never
    remove text that isn't byte-identical elsewhere.

    Scale shape: the span table (output of :func:`duplicated_ngram_spans` —
    duplicated spans only, typically ≪ corpus) joins back to the corpus
    once to hash content, picks survivors with one window over span_hash,
    aggregates removals per doc, and the final cut is a row-local
    arrays_zip filter — the corpus itself shuffles only for the removal
    join (left join on the doc id)."""
    from pyspark.sql import Window

    spans = duplicated_ngram_spans(
        docs, n=n, min_docs=min_docs, id_col=id_col, text_col=text_col, max_df=max_df
    )
    toks = F.split(_norm_text(text_col), " ")
    tk = docs.select(F.col(id_col).alias("id"), toks.alias("__t"))
    hashed = spans.join(tk, "id").select(
        "id",
        "span_start",
        "span_end",
        F.xxhash64(
            F.concat_ws(" ", F.slice("__t", F.col("span_start") + 1, F.col("span_tokens")))
        ).alias("span_hash"),
    )
    keep = Window.partitionBy("span_hash")
    removals = (
        hashed.withColumn("__keep_id", F.min("id").over(keep))
        .filter(F.col("id") != F.col("__keep_id"))
        .groupBy("id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("__cuts")
        )
    )
    cut = docs.join(
        removals, F.col(id_col) == removals["id"], "left"
    ).drop(removals["id"])
    idx = F.arrays_zip(toks, F.sequence(F.lit(0), F.size(toks) - 1).alias("__i"))
    kept_text = F.concat_ws(
        " ",
        F.transform(
            F.filter(
                idx,
                lambda z: ~F.exists(
                    F.col("__cuts"),
                    lambda c: (z["__i"] >= c["span_start"]) & (z["__i"] <= c["span_end"]),
                ),
            ),
            lambda z: z["0"],
        ),
    )
    out_text = F.when(F.col("__cuts").isNull(), F.col(text_col)).otherwise(kept_text)
    return cut.withColumn(text_col, out_text).drop("__cuts")


def url_canonicalize(col) -> "F.Column":
    """Canonical form of a URL for host/URL-level document dedup — the
    web-crawl twin of content dedup (CCNet/RefinedWeb dedupe by
    canonicalized URL before any text comparison; a crawl sees the same
    page as http/https, with/without www., trailing slash, tracking
    params, fragments). Steps, all pure regexp/array column expressions
    (engine-identical semantics exist in DuckDB — no UDF, codegen'd):

    1. strip the scheme and the #fragment,
    2. lowercase the host, strip leading ``www.`` and default ports
       (:80/:443),
    3. strip trailing slashes from the path,
    4. drop tracking query params (``utm_*``, ``fbclid``, ``gclid``) and
       SORT the survivors (param order never distinguishes resources).

    Returns ``host/path?sorted_params`` — group or window on it to dedup.
    """
    u = F.col(col) if isinstance(col, str) else col
    x = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    x = F.regexp_replace(x, r"#.*$", "")
    hostpath = F.regexp_extract(x, r"^([^?]*)", 1)
    query = F.regexp_extract(x, r"\?(.*)$", 1)
    host = F.lower(F.regexp_extract(hostpath, r"^([^/]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    path = F.regexp_replace(F.regexp_replace(hostpath, r"^[^/]*", ""), r"/+$", "")
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike("^(utm_[^=]*|fbclid|gclid)="),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        host,
        path,
        F.when(canon_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), canon_q)),
    )


def url_dedup_groups(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-canonical duplicate groups: one row per canonical URL with the
    member count and the kept representative (min id). Same hash-groupBy
    shape as :func:`exact_dedup_groups` — one shuffle on the canonical
    key, no pairwise work; at 100 TB the canonicalization is a map-side
    column expression on the scan."""
    return (
        docs.select(
            F.col(id_col), url_canonicalize(url_col).alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )


def substring_dedup_chunks(
    docs: DataFrame,
    chunk_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Suffix-array-free EXACT substring dedup at chunk granularity — the
    tractable-at-scale variant of Lee et al. 2022's ExactSubstr: instead
    of a corpus-wide suffix array (which needs the whole corpus in one
    address space), the corpus is cut into NON-OVERLAPPING ``chunk_tokens``
    token chunks and a chunk repeated anywhere in the corpus is kept only
    at its FIRST occurrence (global (doc_id, chunk_idx) order) — every
    later occurrence is dropped from its document's rebuilt text. Catches
    boilerplate/quote/license-block repetition that document-level dedup
    misses, at the cost of ± one chunk of boundary slop vs the exact
    suffix-array answer.

    Plan shape: chunking is a pure column expression on the scan (split →
    ``transform(sequence(...), i → array_join(slice(...)))`` → posexplode
    — no shuffle); first-occurrence ranking is ONE window partitioned by
    the chunk text (each chunk group's occurrence list is tiny); the
    rebuild is one groupBy(doc) re-assembling kept chunks in order. Two
    shuffles total, both equi-keyed, no UDF.

    Returns (doc_id, n_chunks, n_dup_chunks, dedup_text).
    """
    from pyspark.sql import Window

    C = int(chunk_tokens)
    toks = F.split(_norm_text(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(C))).cast("int")
    chunked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice(toks, i * C + 1, C), " "),
            )
        ).alias("chunk_idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    ranked = chunked.withColumn("__rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum((F.col("__rn") > 1).cast("int")).cast("int").alias("n_dup_chunks"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rn") == 1,
                            F.struct(
                                F.col("chunk_idx").alias("k"),
                                F.col("chunk").alias("c"),
                            ),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            " ",
        ).alias("dedup_text"),
    )


#: most eval documents :func:`exact_lcs_contamination` collects to the
#: driver. Every task builds its own automaton over them, which measured
#: about 24 KB per document of 66 tokens (the sf1 fixture's 944 eval docs:
#: 23 MB), so the bound keeps one task's automaton near 250 MB.
MAX_EVAL_DOCS = 10_000


def _build_token_sam(seqs: "list[list[int]]"):
    """Generalized suffix automaton over token-id sequences (Blumer et al.
    1985 construction, the standard online form with clones; generalized to
    a doc SET by resetting ``last`` to the root between documents and
    reusing an existing contiguous transition instead of re-adding it).
    Returns ``(trans, link, length)`` parallel lists; states are ints,
    transitions are per-state dicts keyed by token id. O(total tokens)
    states/time. Used by :func:`exact_lcs_contamination`."""
    trans: list[dict] = [{}]
    link: list[int] = [-1]
    length: list[int] = [0]

    def extend(last: int, c: int) -> int:
        if c in trans[last]:
            q = trans[last][c]
            if length[q] == length[last] + 1:
                return q
            clone = len(trans)
            trans.append(dict(trans[q]))
            link.append(link[q])
            length.append(length[last] + 1)
            p = last
            while p != -1 and trans[p].get(c) == q:
                trans[p][c] = clone
                p = link[p]
            link[q] = clone
            return clone
        cur = len(trans)
        trans.append({})
        link.append(-1)
        length.append(length[last] + 1)
        p = last
        while p != -1 and c not in trans[p]:
            trans[p][c] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = trans[p][c]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = len(trans)
                trans.append(dict(trans[q]))
                link.append(link[q])
                length.append(length[p] + 1)
                pp = p
                while pp != -1 and trans[pp].get(c) == q:
                    trans[pp][c] = clone
                    pp = link[pp]
                link[q] = clone
                link[cur] = clone
        return cur

    for seq in seqs:
        last = 0
        for c in seq:
            last = extend(last, c)
    return trans, link, length


def _sam_longest_match(trans, link, length, seq) -> int:
    """Longest contiguous run of ``seq`` accepted by the automaton — the
    classic streaming longest-common-substring walk: O(len) amortized."""
    v = 0
    run = 0
    best = 0
    for c in seq:
        if c in trans[v]:
            v = trans[v][c]
            run += 1
        else:
            while v and c not in trans[v]:
                v = link[v]
            if c in trans[v]:
                run = length[v] + 1
                v = trans[v][c]
            else:
                v = 0
                run = 0
        if run > best:
            best = run
    return best


def exact_lcs_contamination(
    train: DataFrame,
    ev: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fanout: int = 8,
) -> DataFrame:
    """EXACT per-document contamination length: for every training doc, the
    length (in tokens) of its longest token run appearing verbatim in ANY
    eval document — the exact quantity ``dd_contamination_ladder`` lower-
    bounds with its fixed {4,8,16} rungs (VERDICT r9 stretch #6). Runs
    shorter than 2 tokens report 0 (single shared words are not
    contamination).

    Algorithm (r15 — replaced the r10 k-ary doubling-probe search, guide
    §1.2 "the distributed algorithm" + §4.2): ONE generalized suffix
    automaton over the tokenized EVAL corpus answers "longest run of doc d
    present in any eval doc" in O(len(d)) per training doc, so the whole
    operator is a single Arrow-batched ``mapInPandas`` pass over the
    training scan — no driver-side search loop (the k-ary form ran 1 +
    log_fanout passes ≈ 4 checkpointed rounds ≈ 33 scheduled jobs/pass at
    sf0.1; this runs 2). Tokenization stays IN SPARK (the same
    ``_norm_text`` split as every shingle operator — the kernel sees token
    arrays, never raw text, so engine-vs-kernel tokenization cannot
    diverge). Matching is integer-only: eval tokens are dict-mapped to
    ints; train tokens outside the eval vocabulary map to -1, which has no
    transition anywhere and resets the walk.

    Scale shape: eval corpora are small by nature (benchmarks, not the
    corpus), so the eval token lists are a driver-built broadcast — the
    guide §3.2 manual-broadcast pattern, same data volume the previous
    form shipped as its broadcast eval-gram side; the automaton is linear
    in eval tokens and is built once per task (guide §4.5). An eval side
    of more than ``MAX_EVAL_DOCS`` documents raises
    :class:`~emdatapipelines_spark.bounds.DriverCollectBoundError`. The
    training side — the 100 TB side — is never shuffled at all (the
    previous form shuffled per-doc probe state every refinement round).

    ``fanout`` is retired (the automaton needs no search grid); accepted
    for call compatibility.

    Oracle independence: the SQL twin computes the same value by a wholly
    different route (bigram position-match diagonals + gaps-and-islands
    run lengths), so agreement is evidence, not tautology;
    ``tests/test_round10_additions.py`` additionally pins this exact
    implementation against a per-doc Python brute force.
    """
    del fanout  # retired search parameter, kept for API compatibility
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    toks = F.split(_norm_text(text_col), " ")
    tr0 = train.select(F.col(id_col).alias("id"), toks.alias("tk"))
    # metadata-rate driver collect of the SMALL side only (guide §3.2):
    # the eval token lists become a SparkContext broadcast exactly like a
    # hand-built Bloom filter; the training side streams through the
    # automaton without ever being collected or shuffled.
    ev_tokens = [
        list(r["tk"])
        for r in bounded_collect(
            ev.select(toks.alias("tk")),
            MAX_EVAL_DOCS,
            "exact_lcs_contamination eval corpus (llmdata.dedup.MAX_EVAL_DOCS)",
        )
        if r["tk"]
    ]
    vocab: dict[str, int] = {}
    seqs: list[list[int]] = []
    for tk in ev_tokens:
        seq = []
        for tok in tk:
            tid = vocab.get(tok)
            if tid is None:
                tid = len(vocab)
                vocab[tok] = tid
            seq.append(tid)
        seqs.append(seq)
    bc = train.sparkSession.sparkContext.broadcast((vocab, seqs))

    id_field = tr0.schema["id"]
    out_schema = StructType(
        [
            StructField("id", id_field.dataType, True),
            StructField("lcs", IntegerType(), True),
        ]
    )

    def kernel(batches):
        vocab_b, seqs_b = bc.value
        trans, link, length = _build_token_sam(seqs_b)  # once per task
        get = vocab_b.get
        for pdf in batches:
            out = []
            for tk in pdf["tk"]:
                if tk is None or len(tk) == 0:
                    out.append(0)
                    continue
                best = _sam_longest_match(
                    trans, link, length, [get(t, -1) for t in tk]
                )
                out.append(best if best >= 2 else 0)
            yield pd.DataFrame({"id": pdf["id"], "lcs": out})

    return (
        tr0.mapInPandas(kernel, out_schema)
        .select(
            F.col("id").alias("doc_id"), F.col("lcs").cast("int").alias("lcs_tokens")
        )
        .orderBy("doc_id")
    )
