"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

M7 extensions (SURVEY.md §7, driver BASELINE.json): the core of any
large-scale training-data pipeline. Design targets 100 TB:

- exact dedup      : one hash-groupBy shuffle on the dedup key.
- n-gram Jaccard   : exact pairwise similarity via a shingle-posting-list
                     self-join — quadratic per posting bucket, used as the
                     *verifier* for candidates and the small-scale oracle.
- MinHash + LSH    : the scale path. signatures are computed map-side
                     (explode→groupBy, one shuffle); banding turns the
                     quadratic all-pairs problem into equi-join buckets;
                     candidates are verified with exact Jaccard. Hot buckets
                     are capped (``max_bucket``) to bound worst-case skew —
                     the cap is logged, not silent.
- SimHash          : 64-bit signature whose Hamming distance approximates
                     cosine similarity of token sets; banded into 4×16-bit
                     keys for ≤3-bit-distance candidate generation.

Everything is built from explode / groupBy / join — no UDFs, no collect().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .pairs import grouped_pairs
from .text import WS, tokens


def exact_dedup(
    df: DataFrame, on: list[str], id_col: str, keep: str = "min"
) -> DataFrame:
    """Keep one row per duplicate group (lowest/highest id). One shuffle."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    keepers = df.groupBy(*on).agg(agg.alias(id_col))
    return df.join(keepers, on=[*on, id_col], how="left_semi")


def shingle_postings(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) posting list — the shared substrate of the exact and
    LSH paths.

    The token array is projected into a column before the shingle lambdas:
    HOF subexpressions are not CSE'd, so building shingles directly over
    ``tokens(text)`` re-splits the text inside every slice of every shingle
    (measured 4.4s → 0.6s for the posting build at sf0.1)."""
    toksed = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), cnt - n + 1))
    shingles = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )
    return toksed.select("doc_id", F.explode(shingles).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_group: int = 100_000,
) -> DataFrame:
    """Exact pairwise Jaccard over word-n-gram shingle sets.

    |A∩B| via grouped posting lists: group by shingle once, generate the
    ordered doc pairs map-side from each group (identical pair set to a
    posting self-join, but one narrow shuffle instead of joining the posting
    list against itself), drop df=1 shingles for free. Still quadratic per
    hot shingle → correct-but-small-scale; the LSH path below is the 100 TB
    variant and uses this as its verifier.

    ``max_group`` bounds the quadratic blowup of a degenerate shingle (empty
    or boilerplate docs): groups over the cap are dropped — same policy as
    the LSH path's ``max_bucket``. The default is far above any honest
    shingle's document frequency, so exactness holds unless the corpus is
    pathological; pairs whose only shared shingles are capped lose their
    intersection count, so treat a capped run as approximate."""
    # three consumers (doc sizes + both grouped_pairs join sides) —
    # materialize once; ContextCleaner reclaims the checkpoint when the DF
    # is unreachable
    post = shingle_postings(df, id_col, text_col, n).localCheckpoint(eager=False)
    sizes = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # attach each doc's shingle-set size to its postings (doc-count-sized
    # broadcast) so the LENGTH FILTER can run per emitted pair, BEFORE the
    # intersection-count exchange: J(A,B) = I/(n1+n2-I) with I <= min, so
    # J >= t forces min(n1,n2) >= t * max(n1,n2) — pairs that fail cannot
    # reach the threshold and are dropped pre-shuffle (34% of the pair
    # stream on the sf0.1 near-dup corpus; zero false drops for ANY t).
    postn = post.join(
        F.broadcast(sizes.withColumnRenamed("n_shingles", "__n")), "doc_id"
    )
    # pair generation via the shared bounded generator (operators/pairs.py):
    # a window count over the pair join's own exchange caps hot shingles
    # BEFORE the codegen equi-join emits pairs. The previous
    # collect_list + nested transform/slice explosion paid O(k²)
    # array-tail copies per posting group — the exact shape pairs.py
    # measured pathological on q247 — and ran 3.4-4.6 s for the q18 pair
    # core at sf0.1 vs 2.2-2.5 s for this join (cold 10.0 -> 2.5 s);
    # identical pair multiset (ordered in-group doc pairs, groups of 1
    # emit nothing, groups over the cap dropped). The doc ids ride as
    # (id, n) structs so the size columns survive the generator.
    pairs = grouped_pairs(
        postn.select(
            "shingle", F.struct(F.col("doc_id"), F.col("__n")).alias("dn")
        ),
        "shingle", "dn", left="d1", right="d2",
        max_group=max_group, assume_distinct=True,
    ).filter(
        # at I = min the jaccard IS min/max (n1+n2-min = max), so this is
        # the FINAL filter's own double expression evaluated at the best
        # possible intersection — a pair passing the final filter always
        # passes here (same division, same comparison; no epsilon games)
        F.least(F.col("d1.__n"), F.col("d2.__n")).cast("double")
        / F.greatest(F.col("d1.__n"), F.col("d2.__n")).cast("double")
        >= F.lit(float(threshold))
    ).select(
        F.col("d1.doc_id").alias("id1"), F.col("d2.doc_id").alias("id2")
    )
    inter = pairs.groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("n_inter"))
    sa = sizes.select(F.col("doc_id").alias("id1"), F.col("n_shingles").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("id2"), F.col("n_shingles").alias("n2"))
    return (
        inter.join(sa, "id1")
        .join(sb, "id2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "n_inter", "n1", "n2", "jaccard")
    )


# --- MinHash + LSH ----------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    postings: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per document: each shingle string is
    hashed ONCE (xxhash64), and the k permutations re-hash that 8-byte value
    (xxhash64(h, seed_i)) — k× cheaper than k string hashes with the same
    LSH properties. One explode + one groupBy (map-side partial min).

    Pass ``postings`` (a cached shingle_postings DF) to avoid re-tokenizing
    when the caller also needs the posting list (the verify stage does)."""
    post = (
        postings
        if postings is not None
        else shingle_postings(df, id_col, text_col, n)
    ).withColumn("h", F.xxhash64(F.col("shingle")))
    # one parsed SQL string per aggregate instead of a 4-call py4j Column
    # chain each: the num_hashes-wide agg list is pure DRIVER construction
    # cost, measured 0.34 -> 0.07 s per call at 64 hashes (identical plan —
    # an INT literal seed binds exactly like F.lit(i))
    mins = [F.expr(f"min(xxhash64(h, {i})) AS mh{i}") for i in range(num_hashes)]
    return post.groupBy("doc_id").agg(*mins)


def band_keys(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, key) — one LSH band key per band per doc, the join
    currency of every banded-LSH path (self-join dedup and cross-corpus
    join alike)."""
    # single parsed expression instead of bands x (rows_per_band + 3) py4j
    # calls — driver construction cost only, identical plan (0.17 -> 0.02 s
    # per call at 16x4; INT literals bind exactly like F.lit(b))
    arr = ",".join(
        "struct({b} AS band, xxhash64({cols}) AS key)".format(
            b=b,
            cols=",".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return signatures.select(
        "doc_id", F.expr(f"explode(array({arr}))").alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the signature into ``bands`` keys of ``rows_per_band`` hashes;
    docs sharing any band key become candidate pairs (threshold ≈
    (1/bands)^(1/rows_per_band) ≈ 0.5 for 16×4).

    Buckets larger than ``max_bucket`` are dropped (degenerate shingles —
    e.g. empty docs); at 100 TB an uncapped hot bucket is a quadratic bomb.
    """
    exploded = band_keys(signatures, bands, rows_per_band)

    bucket = (
        exploded.groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("ids"), F.count(F.lit(1)).alias("sz"))
        .filter((F.col("sz") > 1) & (F.col("sz") <= max_bucket))
    )
    ids_sorted = F.array_sort("ids")
    pairs = bucket.select(
        F.explode(
            F.flatten(
                F.transform(
                    ids_sorted,
                    lambda x, i: F.transform(
                        F.slice(ids_sorted, i + 2, F.size(ids_sorted)),
                        lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id1", "p.id2")
    return pairs.dropDuplicates(["id1", "id2"])


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.6,
    postings: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: candidates from banding, verified
    with exact Jaccard (computed only for candidate pairs). The shingle
    posting list is computed once and materialized — signatures and the
    verify stage both read it (recomputing it doubled the tokenize+explode
    cost). localCheckpoint rather than cache(): the CacheManager pins a
    cached plan until an explicit unpersist, but a checkpointed RDD is
    reclaimed by the ContextCleaner once the DataFrame is unreachable, so
    repeated calls don't accrete pinned executor memory.

    Pass ``postings`` (a checkpointed shingle_postings DF) when the caller
    already holds the corpus' posting list — e.g. the incremental-index
    query runs this AND the cross-corpus join over the same delta corpus,
    and sharing the postings halves its tokenize+shingle work.
    ``signatures`` additionally shares the (num_hashes-wide) MinHash
    signature aggregate itself; it must have been built over the same
    postings with the same ``num_hashes``."""
    post = (
        postings
        if postings is not None
        else shingle_postings(df, id_col, text_col, n).localCheckpoint(eager=False)
    )
    sigs = (
        signatures
        if signatures is not None
        else minhash_signatures(df, id_col, text_col, n, num_hashes, postings=post)
    )
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band)
    sizes = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    a = post.select(F.col("doc_id").alias("id1"), "shingle")
    b = post.select(F.col("doc_id").alias("id2"), "shingle")
    inter = (
        cand.join(a, "id1")
        .join(b, ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id1"), F.col("n_shingles").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("id2"), F.col("n_shingles").alias("n2"))
    return (
        inter.join(sa, "id1")
        .join(sb, "id2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_join_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.6,
    max_bucket: int = 1000,
    postings_left: DataFrame | None = None,
    postings_right: DataFrame | None = None,
    signatures_right: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus near-dup JOIN (incremental dedup): pairs (id1 ∈ left,
    id2 ∈ right) with exact Jaccard ≥ threshold, candidates generated by
    banded MinHash-LSH across the two corpora — the "new batch vs existing
    100 TB corpus" shape, where only the batch side is small.

    Plan: band keys per side, equi-join on (band, key) with a per-side
    ``max_bucket`` cap (hot degenerate buckets dropped on BOTH sides before
    the join, so no quadratic bucket blow-up), distinct candidate pairs,
    then exact-Jaccard verify over the two posting lists. The existing
    corpus is never self-joined — its cost is one signature pass.

    ``postings_left`` / ``postings_right`` (checkpointed shingle_postings
    DFs) let a caller that also runs the self-dedup path over one of the
    corpora share a single posting build per corpus."""
    post_l = (
        postings_left
        if postings_left is not None
        else shingle_postings(left, id_col, text_col, n).localCheckpoint(eager=False)
    )
    post_r = (
        postings_right
        if postings_right is not None
        else shingle_postings(right, id_col, text_col, n).localCheckpoint(eager=False)
    )
    sig_l = minhash_signatures(left, id_col, text_col, n, num_hashes, postings=post_l)
    sig_r = (
        signatures_right
        if signatures_right is not None
        else minhash_signatures(
            right, id_col, text_col, n, num_hashes, postings=post_r
        )
    )
    bk_l = band_keys(sig_l, bands, rows_per_band)
    bk_r = band_keys(sig_r, bands, rows_per_band)

    def _capped(bk: DataFrame) -> DataFrame:
        w_sz = bk.groupBy("band", "key").agg(F.count(F.lit(1)).alias("sz"))
        return bk.join(
            w_sz.filter(F.col("sz") <= max_bucket).select("band", "key"),
            ["band", "key"],
            "leftsemi",
        )

    cand = (
        _capped(bk_l)
        .select(F.col("doc_id").alias("id1"), "band", "key")
        .join(
            _capped(bk_r).select(F.col("doc_id").alias("id2"), "band", "key"),
            ["band", "key"],
        )
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    sz_l = post_l.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n1"))
    sz_r = post_r.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n2"))
    inter = (
        cand.join(post_l.select(F.col("doc_id").alias("id1"), "shingle"), "id1")
        .join(post_r.select(F.col("doc_id").alias("id2"), "shingle"), ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sz_l.withColumnRenamed("doc_id", "id1"), "id1")
        .join(sz_r.withColumnRenamed("doc_id", "id2"), "id2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (the PPJoin
    family, Xiao et al., WWW'08): identical output to
    ``ngram_jaccard_pairs`` but the candidate join touches only each doc's
    PREFIX — its (|d| - ceil(t·|d|) + 1) globally-rarest shingles — instead
    of the full posting list. Any pair with J ≥ t must share a prefix
    shingle (pigeonhole on the overlap bound α = ceil(t/(1+t)·(|a|+|b|))),
    so recall is 100% by construction and the exact verify pass prunes the
    rest.

    Scale shape: the posting self-join's cost concentrates in the most
    FREQUENT shingles (quadratic per posting list); prefix filtering joins
    on the RAREST shingles per doc, collapsing exactly those hot lists.
    One df-count agg + one per-doc array agg (serves prefix slice AND
    verify) + the prefix candidate join + two array joins closed by a
    per-row array_intersect. Note: on THIS fixture's 31-token vocabulary
    every shingle is hot, so prefix pruning is weak (≈256k candidates for
    ≈1.3k true pairs at sf0.1) — the adversarial case for PPJoin; on real
    Zipf-distributed shingle frequencies the prefix join is the scale
    path while q18's full posting join is the verifier."""
    post = shingle_postings(df, id_col, text_col, n)
    # rarity rank over the DISTINCT-shingle vocabulary: sid ascends with
    # (df, shingle), so sorting by sid IS the rare-first order. The window
    # runs on the vocabulary table (distinct shingles — orders of magnitude
    # smaller than the corpus; at 100 TB swap row_number for zipWithIndex
    # over a sorted vocab partition if the vocabulary itself outgrows one).
    # Every downstream structure then carries dense INTEGER ids instead of
    # shingle strings: the prefix join keys, the per-doc arrays, and the
    # array_intersect verify all shrink/speed accordingly (string-array
    # intersect over ~256k candidate pairs was the dominant cost here).
    dfreq = post.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sid = dfreq.select(
        "shingle",
        F.row_number()
        .over(W.orderBy("df", "shingle"))
        .cast("long")
        .alias("sid"),
    )
    # ONE groupBy builds each doc's shingle ids sorted rare-first as an
    # array — the same table serves BOTH the prefix slice and the verify
    # pass (array_intersect on the two ~|d|-element int arrays is a
    # per-row JVM op; no exploded verify join).
    enriched = post.join(F.broadcast(sid), "shingle")
    doc_sets = (
        enriched.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("sid")).alias("sh"))
        .select("doc_id", "sh", F.size("sh").alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    # prefix keeps enough that a qualifying pair cannot miss (t-dependent)
    plen = (F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1).cast("int")
    prefixes = doc_sets.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.slice("sh", 1, plen)).alias("pos", "shingle"),
    )
    # length filter (Arasu et al.): J(a,b) >= t forces t*|a| <= |b| <= |a|/t
    # - applied INSIDE the candidate join, before the dedup shuffle.
    # position filter (PPJoin, Xiao et al.): for the shared prefix shingle at
    # 0-based positions (i, j), |a ∩ b| <= min(i, j) + 1 + min(n1-i-1, n2-j-1)
    # (common elements before it, itself, common elements after it). A
    # qualifying pair's RAREST common shingle sits in both prefixes with zero
    # commons before it, so its tuple always passes — recall stays 100% while
    # dominated candidate tuples die before the dedup shuffle. The required
    # overlap alpha = ceil(t/(1+t)·(n1+n2)) is relaxed by 1e-9 so float
    # rounding can only weaken the prune, never break exactness.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a.n_sh") + F.col("b.n_sh"))
        - F.lit(1e-9)
    )
    ubound = (
        F.least(F.col("a.pos"), F.col("b.pos"))
        + 1
        + F.least(
            F.col("a.n_sh") - F.col("a.pos") - 1,
            F.col("b.n_sh") - F.col("b.pos") - 1,
        )
    )
    cand = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), "shingle")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_sh") >= F.lit(threshold) * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= F.lit(threshold) * F.col("b.n_sh"))
            & (ubound >= alpha)
        )
        .select(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .dropDuplicates(["id1", "id2"])
    )
    inter = (
        cand.join(
            doc_sets.select(
                F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"),
                F.col("n_sh").alias("n1"),
            ), "id1",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"),
                F.col("n_sh").alias("n2"),
            ), "id2",
        )
        .select(
            "id1", "id2", "n1", "n2",
            F.size(F.array_intersect("sh1", "sh2")).alias("n_inter"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.col("n_inter"), F.col("n1"), F.col("n2"), "jaccard")
    )


# --- SimHash ----------------------------------------------------------------


SIMHASH_BITS = 60  # md5-derived 60-bit hash (15 hex chars) — see sketches.py


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document: sign of the per-bit sum of ±1 votes from
    each distinct token's md5-derived hash (portable across engines — a
    DuckDB oracle reproduces signatures bit-for-bit; see
    operators/sketches.md5_hash60).

    Explode → one groupBy with 60 conditional sums (map-side partial agg,
    single shuffle on doc_id) — holds at 100 TB, unlike per-row array loops.
    """
    from .sketches import md5_hash60

    post = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    # md5 + conv(hex,16,10) is an interpreted-expression cost — pay it once
    # per DISTINCT token (vocabulary ≪ postings; Heaps' law at 100 TB), then
    # join the hash back onto the postings. AQE turns the join broadcast when
    # the vocabulary is small; at scale it's a hash join keyed on the token —
    # still cheaper than per-posting md5.
    vocab = post.select("tok").distinct().withColumn("h", md5_hash60(F.col("tok")))
    post = post.join(vocab, "tok")
    # vote_b = (+1 per set bit, -1 per clear bit) = 2·Σ bit_b − n; summing the
    # raw bit avoids a per-row branch in each of the 60 aggregates.
    # Both the 60 aggregates and the 60-term majority OR are built as PARSED
    # expression strings: constructing them as per-call Column chains costs
    # hundreds of py4j round-trips — measured ~2.9 s of driver-side plan
    # build per q20 pass, dwarfing the executors' 2.4 s of actual work.
    bit_aggs = [
        F.expr(f"sum(shiftright(h, {b}) & 1) AS s{b}")
        for b in range(SIMHASH_BITS)
    ]
    votes = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *bit_aggs)
    sig = F.expr(
        " | ".join(
            f"IF(s{b} * 2 > n, CAST({1 << b} AS BIGINT), CAST(0 AS BIGINT))"
            for b in range(SIMHASH_BITS)
        )
    )
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_neardup_pairs(sig_df: DataFrame, max_distance: int = 3, bands: int = 4) -> DataFrame:
    """Banded candidates verified by true Hamming distance ≤ max_distance.
    Banding guarantees full recall for distance < bands (pigeonhole).

    The 64-bit signature rides along through the band explode, so the band
    self-join emits (pair, hamming) directly and the ≤max_distance filter
    runs BEFORE the pair-dedup shuffle — only true near-dups (≈1% of
    candidates here) are shuffled, and the two signature lookup joins the
    candidate/verify split would need are gone entirely. The signature
    subtree (explode → vocab hash join → 60-agg groupBy) is consumed by
    both join sides; localCheckpoint materializes it once (one row per doc,
    tiny), and the ContextCleaner reclaims it when the DataFrame is GC'd."""
    width = SIMHASH_BITS // bands
    sig_df = sig_df.localCheckpoint(eager=False)
    band_rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for b in range(bands)
    ]
    exploded = sig_df.select(
        "doc_id", "simhash", F.explode(F.array(*band_rows)).alias("bk")
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id1", "id2"])
    )
