"""M7 LLM-data-pipeline queries: dedup, similarity search, text analysis,
as-of/sessionize/json/pivot — registered into the same driver-facing
registry as queries.py.

The dedup corpora are made non-trivial deterministically: documents ∪
mutated copies (id+10000) so exact and near-dup pairs exist by construction
and the oracle can build the identical corpus in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .operators import dedup as D
from .operators import similarity as S
from .operators import text as X
from .operators.asof import asof_join
from .queries import DEC, QUERIES, ORACLES, _t, register

# --- corpora ----------------------------------------------------------------

# near-dup corpus: every 5th doc gets a copy with the last 5 tokens dropped
_NEARDUP_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id,
           array_to_string(l[1:len(l)-5], ' ') AS text
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
          FROM documents WHERE doc_id % 5 = 0)
"""

# exact-dup corpus: every 4th doc duplicated verbatim
_EXACTDUP_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
"""


from .sources.tables import spread as _spread  # noqa: E402 — shared core-width rebalance


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    mutated = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, F.size(toks) - 5), " ").alias("text"),
        )
    )
    return _spread(d.unionByName(mutated))


def _exactdup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO _spread here (unlike _neardup_corpus): both consumers are light —
    # q17 is one hash-groupBy (the spread exchange tripled a 0.23 s query)
    # and q43's per-row scoring is dwarfed by an extra full-text exchange.
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


# --- dedup ------------------------------------------------------------------


@register(
    "q17_dedup_exact",
    oracle=f"""
    WITH corpus AS ({_EXACTDUP_CORPUS_SQL})
    SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM corpus GROUP BY text ORDER BY keeper_id
    """,
)
def q17_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the text, keep lowest id. One shuffle;
    at 100 TB group on fingerprint_md5(text) instead to shrink shuffle width."""
    corpus = _exactdup_corpus(spark, sf_dir)
    return (
        corpus.groupBy("text")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keeper_id", "n_copies")
        .orderBy("keeper_id")
    )


# shared Jaccard CTE: the exact q18 pipeline, also the oracle for the LSH
# path (q19) — its verify stage applies the same exact-Jaccard filter to the
# LSH candidates, and banding at 16×4 has full recall at threshold 0.6 on
# this corpus (pytest asserts pair-set equality)
_JACCARD_ORACLE_BODY = f"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(2, len(string_split_regex(trim(text),'\\s+')) - 1)),
               i -> array_to_string(string_split_regex(trim(text),'\\s+')[i:i+2], ' ')
             )) AS shingles
      FROM corpus
    ),
    post AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
    sizes AS (SELECT doc_id, count(*) AS n FROM post GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
      FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
      SELECT id1, id2, n_inter, sa.n AS n1, sb.n AS n2,
             CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
    )
"""


@register(
    "q18_ngram_jaccard_pairs",
    oracle=_JACCARD_ORACLE_BODY
    + """
    SELECT id1, id2, n_inter, n1, n2, jaccard
    FROM scored WHERE jaccard >= 0.6
    ORDER BY id1, id2
    """,
)
def q18_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (word 3-grams, threshold 0.6) via
    shingle posting-list self-join — the verifier/oracle path for MinHash."""
    corpus = _neardup_corpus(spark, sf_dir)
    return D.ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.6).orderBy(
        "id1", "id2"
    )


@register(
    "q19_minhash_lsh_pairs",
    # LSH candidates are exact-verified at the same threshold, so the exact
    # pipeline (q18's CTE) IS the oracle — internal xxhash64 signatures only
    # affect candidate generation, never the verified output set
    oracle=_JACCARD_ORACLE_BODY
    + """
    SELECT id1, id2, jaccard
    FROM scored WHERE jaccard >= 0.6
    ORDER BY id1, id2
    """,
)
def q19_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) → LSH(16×4) → exact-Jaccard verify, threshold 0.6. The
    100 TB dedup path; pytest asserts it returns exactly the q18 pairs."""
    corpus = _neardup_corpus(spark, sf_dir)
    return D.minhash_dedup_pairs(
        corpus, "doc_id", "text", n=3, num_hashes=64, bands=16, rows_per_band=4,
        threshold=0.6,
    ).orderBy("id1", "id2")


def _q20_ctes() -> str:
    """SimHash CTE chain (toks…cand) assuming a ``corpus`` CTE in scope —
    shared by q20's oracle and q76's method-eval oracle."""
    bits = D.SIMHASH_BITS
    width = bits // 4
    s_aggs = ",\n             ".join(
        f"sum((h >> {b}) & 1) AS s{b}" for b in range(bits)
    )
    sig_or = " | ".join(
        f"(CASE WHEN s{b}*2 > n THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(bits)
    )
    return f"""toks AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
      FROM corpus
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, count(*) AS n,
             {s_aggs}
      FROM hashed GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {sig_or} AS sig FROM votes),
    bands AS (
      SELECT doc_id, b.band, (sig >> (b.band * {width})) & {(1 << width) - 1} AS key
      FROM sigs, (SELECT unnest(range(4)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )"""


def _q20_oracle() -> str:
    """DuckDB mirror of the md5-based simhash pipeline: identical 60-bit
    per-token hash, bit votes, banding, and Hamming verify."""
    return f"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    {_q20_ctes()}
    SELECT id1, id2, CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS hamming
    FROM cand JOIN sigs sa ON sa.doc_id = id1 JOIN sigs sb ON sb.doc_id = id2
    WHERE bit_count(xor(sa.sig, sb.sig)) <= 3
    ORDER BY id1, id2
    """


@register("q20_simhash_neardup", oracle=_q20_oracle())
def q20_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit, md5-derived) near-dup pairs: banded candidates
    verified by true Hamming distance ≤ 3 (full recall for distance < 4 by
    pigeonhole). Portable hash → the oracle replicates signatures exactly."""
    corpus = _neardup_corpus(spark, sf_dir)
    sigs = D.simhash(corpus, "doc_id", "text")
    return D.simhash_neardup_pairs(sigs, max_distance=3, bands=4).orderBy("id1", "id2")


# --- similarity search -------------------------------------------------------

_COSINE_ORACLE = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             list_reduce(list_transform(list_zip(q.e, c.e),
                                        p -> p[1] * p[2]), (a, b) -> a + b)
             / (sqrt(list_reduce(list_transform(q.e, x -> x * x), (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(c.e, x -> x * x), (a, b) -> a + b)))
             AS cos_sim
      FROM v q, v c
      WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
    )
"""


@register(
    "q21_ann_bruteforce_topk",
    oracle=_COSINE_ORACLE
    + """
    SELECT query_id, rnk, vec_id, cos_sim FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM pairs)
    WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q21_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 20 vectors. Double-precision
    left-fold dot products match DuckDB's list_reduce bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.ann_bruteforce_topk(emb, queries, k=5).orderBy("query_id", "rnk")


def _q22_oracle() -> str:
    """DuckDB mirror of the md5-derived hyperplane LSH: identical ±1 plane
    weights (md5('hp-t-p-d')), sequential-fold dot products for the sign
    bits, same (table, key) candidate join, same exact-cosine top-5."""
    return """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    planes AS (
      SELECT t.t, p.p,
             list_transform(range(0, 64), d ->
               CASE WHEN ('0x' || substr(md5('hp-' || t.t || '-' || p.p || '-' || d), 1, 1))::INT % 2 = 1
                    THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS wv
      FROM (SELECT unnest(range(16)) AS t) t, (SELECT unnest(range(4)) AS p) p
    ),
    dots AS (
      SELECT v.vec_id, pl.t, pl.p,
             list_reduce(list_transform(list_zip(v.e, pl.wv), z -> z[1] * z[2]),
                         (a, b) -> a + b) AS dp
      FROM v, planes pl
    ),
    keys AS (
      SELECT vec_id, t,
             sum(CASE WHEN dp >= 0 THEN (1 << p) ELSE 0 END) AS key
      FROM dots GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
      FROM keys q JOIN keys c ON q.t = c.t AND q.key = c.key
      WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             list_reduce(list_transform(list_zip(q.e, c.e), z -> z[1] * z[2]), (a, b) -> a + b)
             / (sqrt(list_reduce(list_transform(q.e, x -> x * x), (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(c.e, x -> x * x), (a, b) -> a + b)))
             AS cos_sim
      FROM cand JOIN v q ON q.vec_id = cand.query_id JOIN v c ON c.vec_id = cand.vec_id
    )
    SELECT query_id, rnk, vec_id, cos_sim FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    WHERE rnk <= 5 ORDER BY query_id, rnk
    """


@register("q22_ann_lsh_topk", oracle=_q22_oracle())
def q22_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (4 planes × 16 tables, md5-derived planes):
    equi-join on bucket keys replaces the cross join. pytest measures recall
    vs the exact q21; the oracle replicates buckets and scores exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.ann_lsh_topk(emb, queries, k=5).orderBy("query_id", "rnk")


@register(
    "q43_corpus_curation",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
    ),
    scored AS (
      SELECT doc_id, text,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS alpha_ratio,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS bpe_tokens
      FROM corpus
    ),
    filtered AS (
      SELECT * FROM scored WHERE n_tok BETWEEN 10 AND 200 AND alpha_ratio >= 0.5
    ),
    deduped AS (
      SELECT fp, min(doc_id) AS doc_id, min(bpe_tokens) AS bpe_tokens
      FROM filtered GROUP BY fp
    )
    SELECT doc_id, CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
           CAST(sum(bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
    FROM deduped
    QUALIFY cum_tokens <= 50000
    ORDER BY doc_id
    """,
)
def q43_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data pipeline: corpus (with injected dups) →
    quality filter (token count + alpha ratio) → fingerprint dedup →
    BPE token accounting → cumulative token-budget cut. Every stage is one
    of the engine's operators composed declaratively — Catalyst fuses the
    scoring into a single scan pass, dedup is one shuffle, the budget cut is
    a running-sum window."""
    corpus = _exactdup_corpus(spark, sf_dir)
    t = F.col("text")
    scored = corpus.select(
        "doc_id",
        X.token_count(t).alias("n_tok"),
        (
            F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
            / F.length(t).cast("double")
        ).alias("alpha_ratio"),
        X.fingerprint_md5(t).alias("fp"),
        X.bpe_token_count(t).alias("bpe_tokens"),
    )
    filtered = scored.filter(
        F.col("n_tok").between(10, 200) & (F.col("alpha_ratio") >= 0.5)
    )
    deduped = filtered.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"), F.min("bpe_tokens").alias("bpe_tokens")
    )
    # two-phase running sum (operators/sequences.running_total) — an
    # unpartitioned window here would funnel the whole corpus through one task
    from .operators.sequences import running_total

    return (
        running_total(deduped, ["doc_id"], "bpe_tokens", "cum_tokens")
        .filter(F.col("cum_tokens") <= 50000)
        .select(
            "doc_id",
            F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
            "cum_tokens",
        )
        .orderBy("doc_id")
    )


@register(
    "q42_multimodal_pipeline",
    # ALL three modalities ride real uncompressed containers decoded by
    # pure numpy: images are 8x6 24-bit BMPs, audio 256-sample PCM16 WAVs,
    # video 4-frame concatenated-BMP streams. The oracle recomputes every
    # feat_mean from the synth closed forms: pixels
    # ((id%7)*11 + 16y + 3x + 5c) % 256 over the 8x6x3 grid (frame f of
    # video id uses (id+f)%7), samples ((id%7)*1000 + 37i) % 4096 - 2048
    # over i<256. n_bytes: BMP 198 (54 header + 24 B/row x 6), WAV 556
    # (44 + 512), video 4x198 = 792. Binary container hashes have no SQL
    # mirror, so payload_hash is not part of this query's contract.
    oracle="""
    WITH m AS (
      SELECT CAST(r AS BIGINT) AS media_id,
             CASE WHEN r % 3 = 0 THEN 'image'
                  WHEN r % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality
      FROM (SELECT unnest(range(0, 96)) AS r)
    ),
    pix AS (
      SELECT m7.m7 AS m7,
             avg(CAST((m7.m7 * 11 + 16 * y.y + 3 * x.x + 5 * c.c) % 256 AS BIGINT)) AS pmean
      FROM (SELECT unnest(range(0, 7)) AS m7) m7,
           (SELECT unnest(range(0, 6)) AS y) y,
           (SELECT unnest(range(0, 8)) AS x) x,
           (SELECT unnest(range(0, 3)) AS c) c
      GROUP BY m7.m7
    ),
    aud AS (
      SELECT m7.m7 AS m7,
             avg(CAST((m7.m7 * 1000 + 37 * i.i) % 4096 - 2048 AS BIGINT)) AS smean
      FROM (SELECT unnest(range(0, 7)) AS m7) m7,
           (SELECT unnest(range(0, 256)) AS i) i
      GROUP BY m7.m7
    ),
    vid AS (
      SELECT m7.m7 AS m7,
             avg(CAST(((m7.m7 + f.f) % 7 * 11 + 16 * y.y + 3 * x.x + 5 * c.c) % 256
                      AS BIGINT)) AS vmean
      FROM (SELECT unnest(range(0, 7)) AS m7) m7,
           (SELECT unnest(range(0, 4)) AS f) f,
           (SELECT unnest(range(0, 6)) AS y) y,
           (SELECT unnest(range(0, 8)) AS x) x,
           (SELECT unnest(range(0, 3)) AS c) c
      GROUP BY m7.m7
    )
    SELECT media_id, modality,
           CAST(CASE WHEN modality = 'image' THEN 198
                     WHEN modality = 'audio' THEN 556
                     ELSE 792 END AS BIGINT) AS n_bytes,
           CASE WHEN modality = 'image' THEN p.pmean
                WHEN modality = 'audio' THEN a.smean
                ELSE v.vmean END AS feat_mean,
           CAST(CASE WHEN modality = 'image' THEN 144
                     WHEN modality = 'audio' THEN 256
                     ELSE 576 END AS INTEGER) AS feat_dim,
           CAST(CASE WHEN modality = 'image' THEN 64 END AS INTEGER) AS width,
           CAST(CASE WHEN modality = 'video' THEN 4 END AS BIGINT) AS n_frames
    FROM m LEFT JOIN pix p ON p.m7 = m.media_id % 7
           LEFT JOIN aud a ON a.m7 = m.media_id % 7
           LEFT JOIN vid v ON v.m7 = m.media_id % 7
    ORDER BY media_id
    """,
)
def q42_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end with REAL pure-numpy decodes for all
    three modalities (BMP images, PCM16 WAV audio, concatenated-BMP video
    streams): synthesize binary media, Arrow-batched feature extraction,
    image resize (1→1, real nearest-neighbor resample), video frame
    sampling (1→N, real header-parsed frame boundaries), and a summary
    join. Only compressed containers (JPEG/MP3/MP4) remain stubbed
    (multimodal.py decode_media). Every feat_mean is oracle-checked
    against the closed-form pixel/sample patterns."""
    from .operators import multimodal as MM

    # pin the synthesized media: three consumers would otherwise re-run
    # the payload-building pandas UDFs once each
    media = MM.synth_media(spark, n=96).localCheckpoint(eager=False)
    feats = MM.extract_features(media)
    resized = MM.resize_images(media, 64, 64)
    frames = MM.sample_frames(media, every_ms=500, max_frames=4)
    frame_counts = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))
    return (
        feats.join(resized.select("media_id", "width", "height"), "media_id", "left")
        .join(frame_counts, "media_id", "left")
        .select(
            "media_id",
            "modality",
            "n_bytes",
            "feat_mean",
            "feat_dim",
            "width",
            "n_frames",
        )
        .orderBy("media_id")
    )


_DUCK_COS = (
    "list_reduce(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]), (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"
    "    * sqrt(list_reduce(list_transform({b}, x -> x * x), (x, y) -> x + y)))"
)


def _q41_oracle() -> str:
    """DuckDB mirror of the IVF pipeline: label-cell centroids from
    id-ordered sequential folds, nearest-cell assignment (top-1 corpus,
    top-4 query probes), candidate join on cell, exact-cosine top-5."""
    return f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    expl AS (
      SELECT label AS cell, vec_id, dd.d, e[dd.d] AS val
      FROM v, (SELECT unnest(range(1, 65)) AS d) dd
    ),
    cmeans AS (
      SELECT cell, d,
             list_reduce(list(val ORDER BY vec_id), (a, b) -> a + b) / count(*) AS mean
      FROM expl GROUP BY cell, d
    ),
    cvec AS (SELECT cell, list(mean ORDER BY d) AS centroid FROM cmeans GROUP BY cell),
    asgn AS (
      SELECT v.vec_id, v.e, c.cell,
             {_DUCK_COS.format(a="v.e", b="c.centroid")} AS c_sim
      FROM v, cvec c
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, cell) AS r
      FROM asgn
    ),
    lists  AS (SELECT vec_id, e, cell FROM ranked WHERE r = 1),
    probes AS (SELECT vec_id, e, cell FROM ranked WHERE vec_id < 20 AND r <= 4),
    cand AS (
      SELECT DISTINCT p.vec_id AS query_id, l.vec_id AS vec_id
      FROM probes p JOIN lists l ON p.cell = l.cell AND l.vec_id <> p.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             {_DUCK_COS.format(a="q.e", b="c.e")} AS cos_sim
      FROM cand JOIN v q ON q.vec_id = cand.query_id JOIN v c ON c.vec_id = cand.vec_id
    )
    SELECT query_id, rnk, vec_id, cos_sim FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    WHERE rnk <= 5 ORDER BY query_id, rnk
    """


@register("q41_ann_ivf_topk", oracle=_q41_oracle())
def q41_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (label-partitioned inverted lists, nprobe=4 of 16 cells) —
    the partition-pruned scale path alongside hyperplane LSH (q22). pytest
    measures recall vs exact q21; centroids are order-deterministic so the
    oracle reproduces the whole pipeline exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.ann_ivf_topk(
        emb, queries, k=5, partition_col="label", nprobe=4
    ).orderBy("query_id", "rnk")


@register(
    "q23_embedding_neardup",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    sims AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             list_reduce(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(a.e, x -> x * x), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(b.e, x -> x * x), (x, y) -> x + y)))
             AS cos_raw
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT id1, id2, round(cos_raw, 6) AS cos_sim
    FROM sims WHERE cos_raw >= 0.35
    ORDER BY id1, id2
    """,
)
def q23_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.35), exact all-pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs(emb, threshold=0.35).orderBy("id1", "id2")


def _q44_oracle() -> str:
    """DuckDB mirror of the bucketed LSH near-dup ALGORITHM (not the ideal
    all-pairs set — LSH recall at threshold 0.35 is ~93% on this corpus, so
    the oracle replicates buckets): identical md5-derived planes and keys as
    q22, the same >1 ∧ ≤max_bucket size gate, in-bucket pairs scored by
    exact cosine, threshold applied pre-rounding."""
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    planes AS (
      SELECT t.t, p.p,
             list_transform(range(0, 64), d ->
               CASE WHEN ('0x' || substr(md5('hp-' || t.t || '-' || p.p || '-' || d), 1, 1))::INT % 2 = 1
                    THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS wv
      FROM (SELECT unnest(range(16)) AS t) t, (SELECT unnest(range(4)) AS p) p
    ),
    dots AS (
      SELECT v.vec_id, pl.t, pl.p,
             list_reduce(list_transform(list_zip(v.e, pl.wv), z -> z[1] * z[2]),
                         (a, b) -> a + b) AS dp
      FROM v, planes pl
    ),
    keys AS (
      SELECT vec_id, t,
             sum(CASE WHEN dp >= 0 THEN (1 << p) ELSE 0 END) AS key
      FROM dots GROUP BY vec_id, t
    ),
    szs AS (SELECT t, key, count(*) AS sz FROM keys GROUP BY t, key),
    ok AS (
      SELECT k.vec_id, k.t, k.key
      FROM keys k JOIN szs s ON s.t = k.t AND s.key = k.key
      WHERE s.sz > 1 AND s.sz <= 5000
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM ok a JOIN ok b ON a.t = b.t AND a.key = b.key AND a.vec_id < b.vec_id
    ),
    sims AS (
      SELECT id1, id2, {_DUCK_COS.format(a="va.e", b="vb.e")} AS cos_raw
      FROM cand JOIN v va ON va.vec_id = id1 JOIN v vb ON vb.vec_id = id2
    )
    SELECT id1, id2, round(cos_raw, 6) AS cos_sim
    FROM sims WHERE cos_raw >= 0.35
    ORDER BY id1, id2
    """


@register("q44_embedding_neardup_lsh", oracle=_q44_oracle())
def q44_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB near-dup path, driver-gated: LSH-bucket (md5-derived
    hyperplanes), capped buckets, in-bucket exact-cosine verify — the corpus
    is never gathered to one place (contrast q23's guarded broadcast path,
    kept as the small-corpus exact verifier)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs_lsh(emb, threshold=0.35).orderBy("id1", "id2")


# --- text analysis -----------------------------------------------------------


@register(
    "q24_text_quality",
    oracle="""
    SELECT doc_id,
           length(text) AS q_chars,
           len(string_split_regex(trim(text), '\\s+')) AS q_tokens,
           CAST(length(text) AS DOUBLE)
             / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS q_chars_per_token,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) AS q_alpha_ratio,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) AS q_digit_ratio,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                    w -> lower(w) IN ('the','a','of','and','to','in','is','it','that','for'))) AS DOUBLE)
             / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS q_stopword_ratio
    FROM documents ORDER BY doc_id
    """,
)
def q24_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return X.quality_metrics(d).select(
        "doc_id",
        "q_chars",
        "q_tokens",
        "q_chars_per_token",
        "q_alpha_ratio",
        "q_digit_ratio",
        "q_stopword_ratio",
    ).orderBy("doc_id")


@register(
    "q25_langid",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('the','and','of','to','is')))  AS s_en,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('el','la','de','que','los')))  AS s_es,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('le','la','les','des','est'))) AS s_fr,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('der','die','und','das','ist'))) AS s_de,
        len(list_filter(string_split_regex(trim(text),'\\s+'),
            w -> lower(w) IN ('的','是','了','在','我')))      AS s_zh
      FROM documents
    )
    SELECT doc_id, lang,
      CASE
        WHEN s_zh > greatest(s_en, s_es, s_fr, s_de, 0) THEN 'zh'
        WHEN s_de > greatest(s_en, s_es, s_fr, 0) AND s_de >= s_zh THEN 'de'
        WHEN s_fr > greatest(s_en, s_es, 0) AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
        WHEN s_es > greatest(s_en, 0) AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
        WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
        ELSE 'und'
      END AS lang_pred
    FROM scored ORDER BY doc_id
    """,
)
def q25_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID; ties broken by fixed language priority
    (en > es > fr > de > zh)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return X.detect_language(d).select("doc_id", "lang", "lang_pred").orderBy("doc_id")


@register(
    "q40_token_counts",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def q40_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways (whitespace + BPE-ish pre-tokenizer) — the
    corpus-budgeting primitive; identical regex runs on both engines."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.token_count(F.col("text")).alias("ws_tokens"),
        X.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    ).orderBy("doc_id")


@register(
    "q26_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def q26_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", X.fingerprint_md5(F.col("text")).alias("fp")).orderBy("doc_id")


# --- events: as-of, sessionize, json, pivot ----------------------------------


@register(
    "q27_asof_join",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, max(event_id) AS purchase_event_id, max(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts,
           p.purchase_value AS purchase_value_asof,
           p.ts AS purchase_ts_asof
    FROM events e ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts > p.ts
    ORDER BY e.event_id
    """,
)
def q27_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY.md §2.4): each event joined to the user's most
    recent strictly-prior purchase. Implemented as a union + carry-forward
    window (operators/asof.py) — one shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_event_id"),
            F.max("value").alias("purchase_value"),
        )
    )
    left = ev.select("event_id", "user_id", "ts")
    out = asof_join(
        left,
        purchases.select("user_id", "ts", "purchase_value"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["purchase_value"],
        strict=True,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("purchase_value_asof"),
        F.col("ts_asof").alias("purchase_ts_asof"),
    ).orderBy("event_id")


@register(
    "q28_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT event_id, user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT event_id, user_id, ts,
           CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM gaps ORDER BY event_id
    """,
)
def q28_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap starts a new session — lag +
    running sum windows (the §2.4 'window functions' scale pattern)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # timestamp_diff works on TIMESTAMP_NTZ (parquet ts without UTC flag) where
    # cast-to-long does not, and is timezone-independent either way.
    # MICROSECOND granularity: ts carries sub-second parts, and the oracle's
    # `> INTERVAL 30 MINUTE` comparison is exact, not second-truncated.
    gap = F.timestamp_diff("MICROSECOND", F.lag(F.col("ts")).over(w), F.col("ts"))
    new_session = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run))
        .select("event_id", "user_id", "ts", "session_id")
        .orderBy("event_id")
    )


@register(
    "q29_json_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q29_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions (§2.4 'array/map/json'): extract props.k, aggregate."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.get_json_object("props", "$.k").cast("bigint").alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "q30_pivot_events",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q30_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (§2.4): per-user event-type counts with an explicit value list
    (no second pass to discover pivot values)."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase", "signup", "error"])
    )
    return out.orderBy("user_id")


@register(
    "q32_stream_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q32_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 Structured Streaming: watermarked tumbling-window aggregation over
    the events file source, driven to completion against a memory sink.
    Aligned 1-hour windows make the result SQL-checkable (date_trunc)."""
    from .streaming import run_stream_to_memory, stream_events, windowed_event_agg

    stream = windowed_event_agg(stream_events(spark, sf_dir))
    run_stream_to_memory(stream, "q32_out")
    return spark.sql(
        "SELECT window_start, event_type, n, sum_value FROM q32_out "
        "ORDER BY window_start, event_type"
    )


@register(
    "q45_stream_sessionize",
    # the streaming session_window is [first_ts, last_ts + gap); the oracle
    # rebuilds the identical sessions batch-wise (lag-gap + running sum, the
    # q28 recipe) and emits the same bounds
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q45_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 Structured Streaming session windows (30-min inactivity gap,
    watermarked) over the events file source, driven to completion against a
    memory sink — the streaming analog of batch q28, now driver-gated."""
    from .streaming import run_stream_to_memory, sessionized_stream, stream_events

    stream = sessionized_stream(stream_events(spark, sf_dir))
    run_stream_to_memory(stream, "q45_out")
    return spark.sql(
        "SELECT session_start, session_end, user_id, n_events FROM q45_out "
        "ORDER BY user_id, session_start"
    )


@register(
    "q51_dedup_clusters",
    # transitive closure of the exact-Jaccard pair graph: DuckDB walks
    # reachability with a recursive CTE; min reachable id == the propagated
    # min label, independent of either engine's iteration order
    oracle=_JACCARD_ORACLE_BODY.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + """
    , pairs AS (SELECT id1, id2 FROM scored WHERE jaccard >= 0.6),
    edges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION ALL SELECT id2 AS a, id1 AS b FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id,
           (node = min(lbl)) AS is_keeper
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def q51_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the exact near-dup pair
    graph (threshold 0.6) → one keeper (min doc_id) per duplicate CLUSTER —
    the transitive step pair-level dedup misses (A~B, B~C ⇒ {A,B,C} share
    one keeper). Iterative min-label propagation, oracle via WITH RECURSIVE."""
    from .operators.graph import connected_components

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.6)
    cc = connected_components(pairs, "id1", "id2")
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    ).orderBy("doc_id")


@register(
    "q52_string_agg",
    oracle="""
    SELECT r.r_name AS region,
           count(*) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY region
    """,
)
def q52_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): collect_list →
    array_sort → array_join makes the concatenation order-deterministic
    regardless of partitioning, so it hash-matches the oracle's ORDER BY."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        )
        .orderBy("region")
    )


@register(
    "q49_quarantine_split",
    oracle="""
    SELECT c_custkey, reject_reason FROM (
      SELECT c_custkey,
             concat_ws(',',
               CASE WHEN NOT (c_acctbal >= 0) THEN 'c_acctbal_nonneg' END,
               CASE WHEN NOT (length(c_name) <= 25) THEN 'c_name_len25' END,
               CASE WHEN NOT (c_nationkey BETWEEN 0 AND 24) THEN 'c_nation_range' END
             ) AS reject_reason
      FROM customer)
    WHERE reject_reason <> '' ORDER BY c_custkey
    """,
)
def q49_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant load (reference -ignore_errors re-expressed): rows are
    split by an up-front predicate set into clean/quarantine streams instead
    of row-by-row insert fallback; the quarantine stream carries every failed
    predicate name. Filter-split — no shuffle, batched writes stay batched."""
    from .operators.quarantine import REASON_COL, split_valid_invalid

    cust = _t(spark, sf_dir, "customer")
    preds = {
        "c_acctbal_nonneg": F.col("c_acctbal") >= 0,
        "c_name_len25": F.length("c_name") <= 25,
        "c_nation_range": F.col("c_nationkey").between(0, 24),
    }
    _clean, bad = split_valid_invalid(cust, preds)
    return (
        bad.select("c_custkey", F.col(REASON_COL).alias("reject_reason"))
        .orderBy("c_custkey")
    )


@register(
    "q50_salted_aggregate",
    # the oracle is the UNSALTED aggregate — the operator's contract is
    # exact equivalence; decimal partials make the two-phase sum exact
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q50_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (hot-key salting): phase 1 aggregates
    (key, salt) partials, phase 2 merges per key — a pathological key spreads
    over 16 reducers instead of one. Decimal partials keep it bit-equal to
    the single-phase plan the oracle runs."""
    from .operators.skew import salted_aggregate

    li = _t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        partial_aggs={
            "n_p": F.count(F.lit(1)),
            "qty_p": F.sum(F.col("l_quantity").cast(DEC)),
        },
        merge_aggs={
            "n": F.sum("n_p").cast("long"),
            "sum_qty": F.sum("qty_p").cast("double"),
        },
        salt_buckets=16,
    )
    return out.select("l_returnflag", "n", "sum_qty").orderBy("l_returnflag")


# --- curation ---------------------------------------------------------------

# PII-injection CTE shared by q46: every 3rd doc gets a deterministic
# contact line so the redaction provably fires; both engines build the
# identical corpus
_PII_CORPUS_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                     || '@mail.example.com see https://src'
                     || CAST(doc_id % 10 AS VARCHAR) || '.example/page?id='
                     || CAST(doc_id AS VARCHAR) || ' ref 1234567'
                     || CAST(doc_id AS VARCHAR)
                ELSE text END AS text
    FROM documents
"""


def _pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sid = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact u"), sid, F.lit("@mail.example.com see https://src"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".example/page?id="), sid, F.lit(" ref 1234567"), sid,
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, injected).otherwise(F.col("text")).alias("text"),
    )


@register(
    "q46_redact_pii",
    oracle=f"""
    WITH corpus AS ({_PII_CORPUS_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text, '[0-9]{{6,}}')) AS BIGINT) AS n_digit_runs,
           regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               'https?://[^\\s]+', '<URL>', 'g'),
               '[0-9]{{6,}}', '<NUM>', 'g') AS redacted
    FROM corpus ORDER BY doc_id
    """,
)
def q46_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction (emails / URLs / long digit runs → typed markers)
    with per-class match counts — pure regexp column expressions, RE2-safe
    patterns mirrored verbatim in the oracle."""
    from .operators.curation import redact_text

    out = redact_text(_pii_corpus(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_digit_runs").cast("long").alias("n_digit_runs"),
        "redacted",
    ).orderBy("doc_id")


@register(
    "q47_repetition_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
    )
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS rep_tokens,
           CASE WHEN len(l) > 0
                THEN 1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / CAST(len(l) AS DOUBLE)
                ELSE 0.0 END AS rep_dup_token_ratio,
           CASE WHEN len(l) >= 2
                THEN 1.0 - CAST(len(list_distinct(list_transform(
                       range(1, greatest(2, len(l))), i -> l[i] || ' ' || l[i+1]
                     ))) AS DOUBLE) / CAST(len(l) - 1 AS DOUBLE)
                ELSE 0.0 END AS rep_dup_bigram_ratio
    FROM toks ORDER BY doc_id
    """,
)
def q47_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals: duplicate-token and duplicate-bigram
    ratios per document — array-only, no explode, no shuffle."""
    from .operators.curation import repetition_metrics

    out = repetition_metrics(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return out.select(
        "doc_id",
        F.col("rep_tokens").cast("long").alias("rep_tokens"),
        "rep_dup_token_ratio",
        "rep_dup_bigram_ratio",
    ).orderBy("doc_id")


@register(
    "q48_source_cap",
    oracle="""
    SELECT source, doc_id, rnk FROM (
      SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INTEGER) AS rnk
      FROM documents)
    WHERE rnk <= 10 ORDER BY source, doc_id
    """,
)
def q48_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stratified cap (≤10 docs per source, lowest doc_id wins) —
    the per-domain cap of web-scale curation. Spark compiles the
    row_number-filter into WindowGroupLimit: heavy-hitter sources ship at
    most cap rows per input partition, not their full group."""
    from .operators.curation import stratified_cap

    d = _t(spark, sf_dir, "documents").select("source", "doc_id")
    return (
        stratified_cap(d, "source", "doc_id", cap=10)
        .select("source", "doc_id", "rnk")
        .orderBy("source", "doc_id")
    )


@register(
    "q53_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(string_split_regex(trim(text), '\\s+'),
                                   t -> lower(t))) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, doc_freq,
             CAST(tf * n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
             CAST(doc_freq AS BIGINT) AS doc_freq, score,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS INTEGER) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, doc_freq, score, rnk
    FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
    """,
)
def q53_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf (linear idf =
    N/df: one integer product + one IEEE division, so ranks are
    bit-reproducible across engines — ln-idf differs in libm ulps)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        X.tfidf_top_terms(d, "doc_id", "text", k=3)
        .select("doc_id", "term", "tf", "doc_freq", "score", "rnk")
        .orderBy("doc_id", "rnk")
    )


def _src_num() -> F.Column:
    """Numeric source suffix — even-numbered sources are the "high-value"
    strata in q54/q57. (A function, not a module constant: building a
    Column needs an active SparkContext, which doesn't exist at import.)"""
    return F.substring(F.col("source"), 4, 10).cast("int")


@register(
    "q54_stratified_sample",
    oracle="""
    SELECT doc_id, source, bucket FROM (
      SELECT doc_id, source,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 100
               AS bucket
      FROM documents)
    WHERE bucket < CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                        THEN 60 ELSE 25 END
    ORDER BY doc_id
    """,
)
def q54_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling: 60% of even-numbered sources,
    25% of odd, via md5-hash bucketing of the doc id — same rows kept on
    any cluster size/partition layout (no RNG state). Pure filter, no
    shuffle."""
    from .operators.curation import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    pct = F.when(_src_num() % 2 == 0, F.lit(60)).otherwise(F.lit(25))
    return (
        stratified_sample(d, "source", "doc_id", pct)
        .select("doc_id", "source", "bucket")
        .orderBy("doc_id")
    )


@register(
    "q55_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text,
               ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS pack_id
    FROM c ORDER BY doc_id
    """,
)
def q55_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining shards: per-source running token
    tape chunked into 512-token packs (pack = chunk the doc's START offset
    lands in). Window-expressible by design — one shuffle on source, no
    iterative bin-packing state."""
    from .operators.curation import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", X.bpe_token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return (
        pack_sequences(d, "source", "doc_id", "n_tokens", budget=512)
        .select(
            "doc_id", "source", "n_tokens",
            F.col("cum_weight").cast("long").alias("cum_tokens"),
            F.col("pack_id").cast("long").alias("pack_id"),
        )
        .orderBy("doc_id")
    )


# benchmark corpus for decontamination: every 50th doc, last 5 tokens
# dropped (same mutation recipe as the near-dup corpus, so overlap with the
# training set exists by construction)
_BENCH_CORPUS_SQL = """
    SELECT doc_id, array_to_string(l[1:len(l)-5], ' ') AS text
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
          FROM documents WHERE doc_id % 50 = 0)
"""

_SHINGLES_3 = """list_distinct(list_transform(
      range(1, greatest(2, len(string_split_regex(trim(text),'\\s+')) - 1)),
      i -> array_to_string(string_split_regex(trim(text),'\\s+')[i:i+2], ' ')
    ))"""


@register(
    "q56_decontaminate",
    oracle=f"""
    WITH bench AS ({_BENCH_CORPUS_SQL}),
    bsh AS (SELECT DISTINCT unnest({_SHINGLES_3}) AS shingle FROM bench),
    tsh AS (SELECT doc_id, unnest({_SHINGLES_3}) AS shingle FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM tsh GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, count(*) AS n_hits
      FROM tsh t JOIN bsh USING (shingle) GROUP BY t.doc_id
    )
    SELECT h.doc_id, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE)
             AS contamination_ratio
    FROM hits h JOIN sizes USING (doc_id) ORDER BY h.doc_id
    """,
)
def q56_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word-3-gram
    shingle with the (small, broadcast) benchmark corpus, with per-doc hit
    counts and contamination ratio."""
    from .operators.curation import decontamination_hits

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id",
        F.array_join(F.slice(toks, 1, F.size(toks) - 5), " ").alias("text"),
    )
    return (
        decontamination_hits(d, bench, "doc_id", "text", n=3)
        .select(
            "doc_id",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            "contamination_ratio",
        )
        .orderBy("doc_id")
    )


@register(
    "q57_token_budget_mix",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, n_chars,
             CAST(len(regexp_extract_all(text,
               ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_tokens,
             CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                  THEN 3 ELSE 1 END AS parts
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(floor((parts * 20000) / 40.0) AS BIGINT) AS alloc,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens, alloc, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= alloc ORDER BY doc_id
    """,
)
def q57_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted corpus mixing: even-numbered sources get 3 mixing
    parts, odd 1 (40 parts over a 20k-token budget); docs admitted per
    source longest-first while the running BPE-token total fits the
    allocation. Integer allocation arithmetic keeps the admission boundary
    engine-reproducible."""
    from .operators.curation import token_budget_mix

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars",
        X.bpe_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    parts = F.when(_src_num() % 2 == 0, F.lit(3)).otherwise(F.lit(1))
    return (
        token_budget_mix(
            d, "source", [F.col("n_chars").desc(), F.col("doc_id").asc()],
            "n_tokens", parts, total_parts=40, budget=20000,
        )
        .select("doc_id", "source", "n_tokens", "alloc",
                F.col("cum_tokens").cast("long").alias("cum_tokens"))
        .orderBy("doc_id")
    )


@register(
    "q58_stream_enrich",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment AS segment,
           count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(38,8))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q58_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 stream-static join: the events stream enriched against the
    broadcast customer dim per micro-batch, then watermarked tumbling-window
    counts/sums per market segment — no stream-side join shuffle, no join
    state. Aligned 1-hour windows keep it SQL-checkable."""
    from .streaming import run_stream_to_memory, stream_events
    from .streaming.jobs import enriched_window_agg

    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream = enriched_window_agg(
        stream_events(spark, sf_dir), dim, "user_id", "c_custkey", "c_mktsegment"
    )
    run_stream_to_memory(stream, "q58_out")
    return spark.sql(
        "SELECT window_start, segment, n, sum_value FROM q58_out "
        "ORDER BY window_start, segment"
    )


@register(
    "q59_skew_join",
    oracle="""
    SELECT p.p_brand AS brand,
           count(*) AS n_items,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,8))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand ORDER BY brand
    """,
)
def q59_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join, driver-gated: lineitem (row-salted) joined to
    part replicated across 8 salt buckets, then brand revenue. Identical
    result to the plain join by construction — salting only re-spreads hot
    keys across reducers; pytest asserts the equivalence, this query gates
    it against the SQL oracle."""
    from .operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice", "l_discount"
    )
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, pt, ["p_partkey"], salt_buckets=8)
    return (
        joined.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("brand")
    )


@register(
    "q60_hypertable_rollup",
    oracle="""
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket, t.event_type
      FROM bounds, (SELECT DISTINCT event_type FROM events) t
    )
    SELECT g.bucket, g.event_type,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n,
           CAST(coalesce(a.sum_value, 0) AS DOUBLE) AS sum_value
    FROM grid g LEFT JOIN agg a ON a.bucket = g.bucket AND a.event_type = g.event_type
    ORDER BY g.bucket, g.event_type
    """,
)
def q60_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous rollup with gap-filling: hourly
    counts/sums per event type over a DENSE hour×type grid (empty buckets
    emitted as zeros — what a time-series engine's gap-fill does). The grid
    is built from a 1-row min/max aggregate exploded into hours (bounded by
    the time span, never by data volume) and the rollup joins against it
    broadcast — at 100 TB the only full-data pass is the groupBy."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type", "value"
    )
    agg = ev.groupBy("bucket", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
    )
    hours = (
        ev.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket")
        )
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    # broadcast the RIGHT (agg) side: a left-outer join cannot broadcast its
    # preserved left side (Spark ignores the hint with a warning — ADVICE r3);
    # agg is bounded by hours×types, so it is the legitimately small side
    return (
        grid
        .join(F.broadcast(agg), ["bucket", "event_type"], "left")
        .select(
            "bucket",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).cast("double").alias("sum_value"),
        )
        .orderBy("bucket", "event_type")
    )


@register(
    "q61_stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q61_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 custom stateful operator: per-user running totals via
    applyInPandasWithState (explicit group state, Arrow-batched). Money is
    accumulated as integer cents so the result is summation-order-free and
    exactly SQL-checkable."""
    from .streaming import run_stream_to_memory, stream_events
    from .streaming.jobs import stateful_user_totals

    stream = stateful_user_totals(stream_events(spark, sf_dir))
    run_stream_to_memory(stream, "q61_out", output_mode="update")
    return spark.sql(
        "SELECT user_id, n_events, total_cents FROM q61_out ORDER BY user_id"
    )


@register(
    "q62_moving_average",
    oracle="""
    SELECT user_id, ts, value,
           CAST(sum(CAST(value AS DECIMAL(38,8))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / count(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS avg_4,
           CAST(max(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS max_4
    FROM events ORDER BY user_id, ts, event_id
    """,
)
def q62_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame time-series features (ROWS BETWEEN 3 PRECEDING): 4-row
    moving average + max per user. The average is exact-decimal frame sum ÷
    frame count as ONE double division (decimal avg's internal rounding
    differs between engines); one window shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, W.currentRow)
    )
    return ev.select(
        "user_id",
        "ts",
        "value",
        (
            F.sum(F.col("value").cast(DEC)).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("avg_4"),
        F.max("value").over(w).cast("double").alias("max_4"),
    ).orderBy("user_id", "ts", "event_id")


@register(
    "q63_histogram",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(least(floor(value / 50), 19) AS INTEGER) AS bin
      FROM events WHERE value >= 0
    )
    SELECT event_type, bin, count(*) AS n
    FROM b GROUP BY event_type, bin ORDER BY event_type, bin
    """,
)
def q63_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram per group (20 bins of width 50, top bin
    clamped) — the data-profiling primitive. floor/least on doubles is
    IEEE-identical across engines; one aggregation shuffle of at most
    #groups×#bins rows."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value") >= 0)
    bin_col = F.least(F.floor(F.col("value") / 50), F.lit(19)).cast("int")
    return (
        ev.select("event_type", bin_col.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bin")
    )


@register(
    "q64_stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    ORDER BY click_id, purchase_id
    """,
)
def q64_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 stream-stream interval join: clicks joined to the same user's
    purchases within the next 30 minutes, both sides watermarked so join
    state is bounded by (watermark + interval), not the stream length. Inner
    join + availableNow drain → deterministic, batch-SQL-checkable."""
    from .streaming import run_stream_to_memory, stream_events

    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )
    run_stream_to_memory(joined, "q64_out", output_mode="append")
    return spark.sql(
        "SELECT * FROM q64_out ORDER BY click_id, purchase_id"
    )


#: profiled lineitem columns by type family. Integers melt as LONG (a double
#: melt collapses distinct 64-bit keys above 2^53 — ADVICE r3); timestamps
#: melt as epoch-micros LONG (exact, format-free across engines); strings
#: melt as-is. The double family keeps its native type.
_PROFILE_LONG = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
_PROFILE_DOUBLE = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_PROFILE_STRING = ("l_returnflag", "l_linestatus")
_PROFILE_TS = ("l_shipdate",)


def _q65_oracle() -> str:
    parts = []
    for c in _PROFILE_LONG + _PROFILE_DOUBLE:
        fam = "long" if c in _PROFILE_LONG else "double"
        parts.append(
            f"""SELECT '{c}' AS col, '{fam}' AS dtype, count(*) AS n_rows,
            count({c}) AS n_non_null, count(DISTINCT {c}) AS n_distinct,
            CAST(min({c}) AS DOUBLE) AS vmin, CAST(max({c}) AS DOUBLE) AS vmax,
            CAST(NULL AS VARCHAR) AS smin, CAST(NULL AS VARCHAR) AS smax
            FROM lineitem"""
        )
    for c in _PROFILE_TS:
        parts.append(
            f"""SELECT '{c}' AS col, 'timestamp' AS dtype, count(*) AS n_rows,
            count({c}) AS n_non_null, count(DISTINCT {c}) AS n_distinct,
            CAST(min(epoch_us({c})) AS DOUBLE) AS vmin,
            CAST(max(epoch_us({c})) AS DOUBLE) AS vmax,
            CAST(NULL AS VARCHAR) AS smin, CAST(NULL AS VARCHAR) AS smax
            FROM lineitem"""
        )
    for c in _PROFILE_STRING:
        parts.append(
            f"""SELECT '{c}' AS col, 'string' AS dtype, count(*) AS n_rows,
            count({c}) AS n_non_null, count(DISTINCT {c}) AS n_distinct,
            CAST(NULL AS DOUBLE) AS vmin, CAST(NULL AS DOUBLE) AS vmax,
            min({c}) AS smin, max({c}) AS smax
            FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY col"


@register("q65_column_profile", oracle=_q65_oracle())
def q65_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling sweep ('ANALYZE TABLE' as a query): count / non-null /
    exact-distinct / min / max for EVERY lineitem column — numeric, string
    and timestamp — one row per column.

    Melt-PER-FAMILY shape (r6): one typed (col, value) melt per type family
    instead of a single 5-slot struct melt — the exploded rows carry ONE
    value column each, so the (col, value) exchange ships ~40% of the bytes
    (no 4 null slots per row), and each family's scan prunes to just its
    columns. The four family scans read DISJOINT column sets, so total scan
    I/O equals the old single scan's (columnar format); only per-file open
    cost repeats — measured 2.5 → 1.3 s at sf0.1, identical rows. Still
    beats the multi-countDistinct form (Catalyst's 11× Expand of full rows)
    and still distributes over (col, value) at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    OUT = ["col", "dtype", "n_rows", "n_non_null", "n_distinct",
           "vmin", "vmax", "smin", "smax"]
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")

    def fam_profile(cols, fam, vexpr, tail):
        slots = [F.struct(F.lit(c).alias("col"), vexpr(c).alias("v")) for c in cols]
        melted = li.select(F.explode(F.array(*slots)).alias("p")).select("p.*")
        per_val = melted.groupBy("col", "v").agg(F.count(F.lit(1)).alias("cnt"))
        present = F.col("v").isNotNull()
        return per_val.groupBy("col").agg(
            F.lit(fam).alias("dtype"),
            F.sum("cnt").alias("n_rows"),
            F.sum(F.when(present, F.col("cnt")).otherwise(F.lit(0))).alias(
                "n_non_null"
            ),
            F.count(F.when(present, F.lit(1))).alias("n_distinct"),
            *tail,
        ).select(OUT)

    num_tail = [F.min("v").cast("double").alias("vmin"),
                F.max("v").cast("double").alias("vmax"),
                null_s.alias("smin"), null_s.alias("smax")]
    dbl_tail = [F.min("v").alias("vmin"), F.max("v").alias("vmax"),
                null_s.alias("smin"), null_s.alias("smax")]
    str_tail = [null_d.alias("vmin"), null_d.alias("vmax"),
                F.min("v").alias("smin"), F.max("v").alias("smax")]
    return (
        fam_profile(_PROFILE_LONG, "long", lambda c: F.col(c).cast("long"), num_tail)
        .unionByName(fam_profile(
            _PROFILE_DOUBLE, "double", lambda c: F.col(c).cast("double"), dbl_tail))
        .unionByName(fam_profile(
            _PROFILE_STRING, "string", lambda c: F.col(c), str_tail))
        .unionByName(fam_profile(
            _PROFILE_TS, "timestamp",
            lambda c: F.unix_micros(F.col(c).cast("timestamp")), num_tail))
        .orderBy("col")
    )


@register(
    "q66_rank_buckets",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS INTEGER) AS quartile,
           CAST(percent_rank() OVER (ORDER BY n_chars, doc_id) AS DOUBLE) AS pct_rank,
           CAST(cume_dist() OVER (ORDER BY n_chars, doc_id) AS DOUBLE) AS cume
    FROM documents ORDER BY doc_id
    """,
)
def q66_rank_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking surface beyond row_number: ntile quartiles, percent_rank and
    cume_dist over a UNIQUE total order (ties broken by doc_id, so every
    engine assigns identical buckets; the rank ratios are single divisions).
    The global window is the documented small-side path — at scale, bucket
    by pre-computed quantile bounds (q35) instead of a total order."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = W.orderBy("n_chars", "doc_id")
    return d.select(
        "doc_id",
        "n_chars",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy("doc_id")


@register(
    "q67_cdc_compaction",
    oracle="""
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           value AS last_value
    FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1 ORDER BY user_id
    """,
)
def q67_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed compaction: latest record per key (ts desc, id desc
    tie-break) — the keep-last half of the A10 merge-apply contract as a
    standalone operator. row_number<=1 compiles to WindowGroupLimit: each
    input partition ships one row per key, so a hot key costs #partitions
    rows post-shuffle, not its full change history."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


@register(
    "q68_setops_all",
    oracle="""
    WITH a AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 1000),
         b AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'intersect_all' AS op, custkey, count(*) AS n FROM (
      SELECT custkey FROM a INTERSECT ALL SELECT custkey FROM b)
    GROUP BY custkey
    UNION ALL
    SELECT 'except_all' AS op, custkey, count(*) AS n FROM (
      SELECT custkey FROM a EXCEPT ALL SELECT custkey FROM b)
    GROUP BY custkey
    ORDER BY op, custkey
    """,
)
def q68_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity-preserving set ops (INTERSECT ALL / EXCEPT ALL) — the
    bag-semantics half q10's distinct set ops don't cover. Grouped to
    (op, key, multiplicity) so the compare is order-free."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 1000).select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    inter = (
        a.intersectAll(b)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "custkey", "n")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "custkey", "n")
    )
    return inter.unionByName(exc).orderBy("op", "custkey")


@register(
    "q69_doc_chunking",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST((i - 1) / 48 AS INTEGER) AS chunk_id,
             CAST(len(l[i:i+63]) AS BIGINT) AS n_chunk_tokens,
             array_to_string(l[i:i+63], ' ') AS chunk_text
      FROM toks, unnest(range(1, greatest(2, len(l) + 1), 48)) AS t(i)
    )
    SELECT doc_id, chunk_id, n_chunk_tokens, chunk_text
    FROM chunks ORDER BY doc_id, chunk_id
    """,
)
def q69_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for pretraining: 64-token chunks at stride 48
    (16-token overlap), tail chunks short. Pure array ops per row — token
    array materialized once, chunk starts generated with a stepped
    sequence, one explode; no shuffle, embarrassingly parallel."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", X.tokens(F.col("text")).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(F.lit(1), n), F.lit(48))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / 48).cast("int").alias("chunk_id"),
            F.size(F.slice(toks, s, 64)).cast("long").alias("n_chunk_tokens"),
            F.array_join(F.slice(toks, s, 64), " ").alias("chunk_text"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_id", "c.n_chunk_tokens", "c.chunk_text")
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "q70_vocab_topk",
    oracle="""
    SELECT term, count(*) AS n FROM (
      SELECT unnest(list_transform(string_split_regex(trim(text), '\\s+'),
                                   t -> lower(t))) AS term
      FROM documents)
    GROUP BY term ORDER BY n DESC, term LIMIT 100
    """,
)
def q70_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-100 terms by frequency
    (count desc, term asc tie-break). explode → hash agg →
    TakeOrderedAndProject — the top-k never global-sorts."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.transform(X.tokens(F.col("text")), F.lower)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(100)
    )


@register(
    "q71_partitioned_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS sum_value,
           min(event_id) AS min_id, max(event_id) AS max_id
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type ORDER BY event_type
    """,
)
def q71_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink→source round-trip through the partitioned parquet layout:
    events written partitionBy(event_type) (sorted within partitions), read
    back with a partition-pruning filter, aggregated. The oracle sees only
    the original table — the round-trip must be lossless and the filter
    must prune at the directory level (audited in test_file_sources)."""
    import shutil
    import tempfile

    from .sources.files import write_partitioned

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # per-invocation tempdir: a fixed shared path races concurrent gate runs
    # and leaks the sink after the run (ADVICE r3)
    out = tempfile.mkdtemp(prefix="spark_graft_q71_")
    try:
        write_partitioned(ev, out, ["event_type"], sort_cols=["event_id"])
        back = spark.read.parquet(out).filter(
            F.col("event_type").isin("click", "purchase")
        )
        result = (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
                F.min("event_id").alias("min_id"),
                F.max("event_id").alias("max_id"),
            )
            .orderBy("event_type")
        )
        # materialize the (tiny) aggregate into executor storage so the temp
        # sink can be removed before returning the still-lazy DataFrame
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q72_argmax",
    oracle="""
    SELECT event_type,
           max(struct_pack(value := value, event_id := event_id)).value AS top_value,
           max(struct_pack(value := value, event_id := event_id)).event_id AS top_event_id,
           min(struct_pack(value := value, event_id := event_id)).value AS bot_value,
           min(struct_pack(value := value, event_id := event_id)).event_id AS bot_event_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q72_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic arg-max/arg-min (MAX_BY with a tie-break): max/min of a
    (value, id) struct — lexicographic struct ordering is identical across
    engines, so ties on the value resolve to the same row. Single hash
    aggregation, map-side partials."""
    ev = _t(spark, sf_dir, "events")
    pair = F.struct(F.col("value"), F.col("event_id"))
    return (
        ev.groupBy("event_type")
        .agg(F.max(pair).alias("mx"), F.min(pair).alias("mn"))
        .select(
            "event_type",
            F.col("mx.value").alias("top_value"),
            F.col("mx.event_id").alias("top_event_id"),
            F.col("mn.value").alias("bot_value"),
            F.col("mn.event_id").alias("bot_event_id"),
        )
        .orderBy("event_type")
    )


def _q73_oracle() -> str:
    """Recursive closure over the q44 LSH pair set (same CTE chain), labels
    = min reachable id — mirrors connected_components exactly."""
    body = _q44_oracle().rsplit("SELECT id1, id2,", 1)[0]
    return (
        "WITH RECURSIVE "
        + body.strip().removeprefix("WITH").strip()
        + """,
    pairs AS (SELECT id1, id2 FROM sims WHERE cos_raw >= 0.35),
    edges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION ALL SELECT id2 AS a, id1 AS b FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS vec_id, min(lbl) AS cluster_id,
           (node = min(lbl)) AS is_keeper
    FROM reach GROUP BY node ORDER BY vec_id
    """
    )


@register("q73_embedding_clusters", oracle=_q73_oracle())
def q73_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dedup CLUSTERS: the scale path end-to-end — LSH-bucketed
    near-dup pairs (q44) fed into connected components (q51's operator) →
    one keeper per cosine-duplicate cluster. The full 100 TB semantic-dedup
    recipe as one composition."""
    from .operators.graph import connected_components

    emb = _t(spark, sf_dir, "embeddings")
    pairs = S.embedding_neardup_pairs_lsh(emb, threshold=0.35)
    cc = connected_components(pairs, "id1", "id2")
    return cc.select(
        F.col("node").alias("vec_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    ).orderBy("vec_id")


@register(
    "q74_funnel",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    converted AS (
      SELECT DISTINCT c.event_id
      FROM clicks c JOIN events p
        ON p.user_id = c.user_id AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    )
    SELECT c.user_id,
           count(*) AS n_clicks,
           count(v.event_id) AS n_converted,
           CAST(count(v.event_id) AS DOUBLE) / count(*) AS conversion_rate
    FROM clicks c LEFT JOIN converted v ON v.event_id = c.event_id
    GROUP BY c.user_id ORDER BY c.user_id
    """,
)
def q74_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: per user, the share of clicks followed by a
    purchase within 30 minutes — an interval semi-join marks converted
    clicks (each click counted once however many purchases follow), then
    one aggregation. The batch analog of q64's stream-stream join."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_semi",
    ).select("event_id")
    flagged = clicks.join(
        converted.withColumn("__conv", F.lit(1)), "event_id", "left"
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.count(F.col("__conv")).alias("n_converted"),
            (F.count(F.col("__conv")).cast("double") / F.count(F.lit(1))).alias(
                "conversion_rate"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "q75_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
           CAST(CAST(e.ts AS DATE) - f.cohort_day AS INTEGER) AS day_offset,
           count(DISTINCT e.user_id) AS active_users,
           count(*) AS n_events
    FROM events e JOIN firsts f ON f.user_id = e.user_id
    GROUP BY f.cohort_day, 2 ORDER BY 1, 2
    """,
)
def q75_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users bucketed by first-seen day, activity
    counted per (cohort, day offset). Two aggregations — the firsts table
    is #users-sized and broadcast into the event scan; integer date math
    only."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .groupBy(F.col("cohort_day").cast("string").alias("cohort_day"), F.col("day_offset"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("cohort_day", "day_offset")
    )


def _q76_oracle() -> str:
    """Precision/recall of SimHash(≤3) against exact Jaccard≥0.6 ground
    truth on the half corpus: merge the q18 CTE chain (exact) and the q20
    CTE chain (simhash) over the SAME filtered corpus, then count the
    pair-set overlap."""
    half = f"SELECT * FROM ({_NEARDUP_CORPUS_SQL}) WHERE doc_id % 2 = 0"
    jacc = _JACCARD_ORACLE_BODY.replace(_NEARDUP_CORPUS_SQL, half, 1)
    return (
        jacc
        + ",\n"
        + _q20_ctes()
        + """,
    ex AS (SELECT id1, id2 FROM scored WHERE jaccard >= 0.6),
    sh AS (
      SELECT id1, id2
      FROM cand JOIN sigs sa ON sa.doc_id = id1 JOIN sigs sb ON sb.doc_id = id2
      WHERE bit_count(xor(sa.sig, sb.sig)) <= 3
    ),
    m AS (SELECT
      (SELECT count(*) FROM ex) AS n_exact,
      (SELECT count(*) FROM sh) AS n_simhash,
      (SELECT count(*) FROM ex JOIN sh USING (id1, id2)) AS tp)
    SELECT n_exact, n_simhash, tp,
           n_simhash - tp AS fp, n_exact - tp AS fn,
           CAST(tp AS DOUBLE) / n_simhash AS prec,
           CAST(tp AS DOUBLE) / n_exact AS rec
    FROM m
    """
    )


@register("q76_dedup_method_eval", oracle=_q76_oracle())
def q76_dedup_method_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method QA: score the approximate pipeline (SimHash Hamming≤3)
    against exact n-gram-Jaccard ground truth — pair-set TP/FP/FN,
    precision, recall. The 'measure, don't guess' primitive for choosing a
    dedup method at 100 TB; runs on the half corpus (doc_id even) to bound
    the exact verifier's cost."""
    corpus = _neardup_corpus(spark, sf_dir).filter(F.col("doc_id") % 2 == 0)
    ex = D.ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.6).select(
        "id1", "id2"
    )
    sh = D.simhash_neardup_pairs(
        D.simhash(corpus, "doc_id", "text"), max_distance=3, bands=4
    ).select("id1", "id2")
    n_ex = ex.agg(F.count(F.lit(1)).alias("n_exact"))
    n_sh = sh.agg(F.count(F.lit(1)).alias("n_simhash"))
    n_tp = ex.join(sh, ["id1", "id2"]).agg(F.count(F.lit(1)).alias("tp"))
    return (
        n_ex.join(F.broadcast(n_sh))
        .join(F.broadcast(n_tp))
        .select(
            "n_exact",
            "n_simhash",
            "tp",
            (F.col("n_simhash") - F.col("tp")).alias("fp"),
            (F.col("n_exact") - F.col("tp")).alias("fn"),
            (F.col("tp").cast("double") / F.col("n_simhash")).alias("prec"),
            (F.col("tp").cast("double") / F.col("n_exact")).alias("rec"),
        )
    )


@register(
    "q77_sentence_split",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(string_split_regex(text, '[.!?]'),
                                        x -> trim(x)), x -> x <> '') AS sents
      FROM documents
    )
    SELECT doc_id,
           CAST(i - 1 AS INTEGER) AS sent_idx,
           sents[i] AS sentence,
           CAST(len(string_split_regex(sents[i], '\\s+')) AS BIGINT) AS n_tokens
    FROM s, unnest(range(1, len(sents) + 1)) AS t(i)
    ORDER BY doc_id, sent_idx
    """,
)
def q77_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation with ordinality (LATERAL VIEW posexplode):
    split on terminal punctuation, keep per-sentence position and token
    count. Pure per-row array work — no shuffle."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.transform(F.split(F.col("text"), r"[.!?]"), lambda x: F.trim(x)),
            lambda x: x != "",
        ).alias("sents"),
    )
    return (
        d.select("doc_id", F.posexplode(F.col("sents")).alias("sent_idx", "sentence"))
        .select(
            "doc_id",
            "sent_idx",
            "sentence",
            F.size(F.split(F.col("sentence"), r"\s+")).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id", "sent_idx")
    )


@register(
    "q78_grouping_id",
    oracle="""
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN NULL ELSE l_returnflag END
             AS l_returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN NULL ELSE l_linestatus END
             AS l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS gid,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
)
def q78_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/GROUPING_ID flags over a rollup — how consumers tell a
    real NULL group from a subtotal row (q08's rollup without the flags is
    ambiguous on nullable keys)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n")
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


@register(
    "q79_scd2_intervals",
    oracle="""
    SELECT user_id,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           value,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM events ORDER BY user_id, valid_from, value
    """,
)
def q79_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 interval building: each change record becomes a
    [valid_from, valid_to) row via lead() over the per-key change order,
    open-ended for the current version — the warehouse-side temporal
    modeling the reference's batch sync feeds. One window shuffle."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        "value",
        nxt.isNull().alias("is_current"),
    ).orderBy("user_id", "valid_from", "value")


@register(
    "q80_zscore",
    oracle="""
    WITH s AS (
      SELECT event_id, event_type, value,
             CAST(sum(CAST(value AS DECIMAL(38,8)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS sx,
             CAST(sum(CAST(value * value AS DECIMAL(38,8)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS sx2,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_id, event_type, value,
           (value - sx / n) / sqrt(sx2 / n - (sx / n) * (sx / n)) AS z
    FROM s ORDER BY event_id
    """,
)
def q80_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (feature scaling): moments from
    exact decimal window sums, then a FIXED float expression tree —
    (x−μ)/√(E[x²]−μ²) — evaluated identically by both engines, so the
    scores are bit-equal. One window shuffle on the group key."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type")
    sx = F.sum(F.col("value").cast(DEC)).over(w).cast("double")
    sx2 = F.sum((F.col("value") * F.col("value")).cast(DEC)).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    mean = sx / n
    z = (F.col("value") - mean) / F.sqrt(sx2 / n - mean * mean)
    return ev.select("event_id", "event_type", "value", z.alias("z")).orderBy(
        "event_id"
    )


@register(
    "q81_fuzzy_match",
    oracle=f"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, a.text AS t1, b.text AS t2
      FROM corpus a JOIN corpus b ON b.doc_id = a.doc_id + 10000
    )
    SELECT id1, id2,
           CAST(levenshtein(t1, t2) AS BIGINT) AS edit_dist,
           1.0 - CAST(levenshtein(t1, t2) AS DOUBLE)
                 / greatest(length(t1), length(t2)) AS sim
    FROM pairs ORDER BY id1
    """,
)
def q81_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: Levenshtein edit distance + normalized
    similarity over candidate pairs (here: each doc vs its mutated copy —
    at scale the candidates come from LSH blocking, q19/q44, never a cross
    join). Integer distances, one IEEE division — bit-equal."""
    corpus = _neardup_corpus(spark, sf_dir)
    a = corpus.select(F.col("doc_id").alias("id1"), F.col("text").alias("t1"))
    b = corpus.select(F.col("doc_id").alias("id2"), F.col("text").alias("t2"))
    dist = F.levenshtein(F.col("t1"), F.col("t2"))
    return (
        a.join(b, F.col("id2") == F.col("id1") + 10000)
        .select(
            "id1",
            "id2",
            dist.cast("long").alias("edit_dist"),
            (
                F.lit(1.0)
                - dist.cast("double")
                / F.greatest(F.length("t1"), F.length("t2"))
            ).alias("sim"),
        )
        .orderBy("id1")
    )


@register(
    "q82_pseudonymize",
    oracle="""
    SELECT event_id,
           sha256('corpus-salt:' || CAST(user_id AS VARCHAR)) AS user_pseudo,
           event_type
    FROM events ORDER BY event_id
    """,
)
def q82_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization: stable salted SHA-256 pseudonyms replace the
    raw user key — joinable across tables (same salt → same pseudonym) but
    not reversible without the salt. Pure column expression, no shuffle."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.sha2(F.concat(F.lit("corpus-salt:"), F.col("user_id").cast("string")), 256)
        .alias("user_pseudo"),
        "event_type",
    ).orderBy("event_id")


@register(
    "q83_rank_ties",
    oracle="""
    WITH c AS (
      SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, n_orders,
           CAST(rank() OVER (ORDER BY n_orders DESC) AS BIGINT) AS rnk,
           CAST(dense_rank() OVER (ORDER BY n_orders DESC) AS BIGINT) AS drnk,
           CAST(row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT)
             AS rn
    FROM c ORDER BY o_custkey
    """,
)
def q83_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware ranking semantics in one result: rank (gaps), dense_rank
    (no gaps) — both well-defined on ties without an arbitrary order — and
    row_number under an explicit unique tie-break. The global window is the
    documented small-side path (ranking #customers, not #rows)."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    w_ties = W.orderBy(F.col("n_orders").desc())
    w_rn = W.orderBy(F.col("n_orders").desc(), F.col("o_custkey"))
    return c.select(
        "o_custkey",
        "n_orders",
        F.rank().over(w_ties).cast("long").alias("rnk"),
        F.dense_rank().over(w_ties).cast("long").alias("drnk"),
        F.row_number().over(w_rn).cast("long").alias("rn"),
    ).orderBy("o_custkey")


@register(
    "q84_share_of_total",
    oracle="""
    WITH g AS (
      SELECT event_type, user_id % 10 AS cohort,
             sum(CAST(value AS DECIMAL(38,8))) AS vd
      FROM events GROUP BY event_type, user_id % 10
    )
    SELECT event_type, CAST(cohort AS BIGINT) AS cohort,
           CAST(vd AS DOUBLE) AS v,
           CAST(vd AS DOUBLE) / CAST(sum(vd) OVER (PARTITION BY event_type)
                                     AS DOUBLE) AS share_of_type,
           CAST(vd AS DOUBLE) / CAST(sum(vd) OVER () AS DOUBLE) AS share_of_total
    FROM g ORDER BY event_type, cohort
    """,
)
def q84_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each (type, cohort) cell's share of its type and of
    the grand total. The window denominators stay DECIMAL until a final
    double cast (float window sums accumulate in engine-specific order —
    decimal sums are order-free), so each share is one IEEE division. The
    windows run over the PRE-AGGREGATED cells, not raw rows."""
    ev = _t(spark, sf_dir, "events")
    g = (
        ev.groupBy("event_type", (F.col("user_id") % 10).alias("cohort"))
        .agg(F.sum(F.col("value").cast(DEC)).alias("vd"))
    )
    w_type = W.partitionBy("event_type").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    w_all = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    v = F.col("vd").cast("double")
    return g.select(
        "event_type",
        F.col("cohort").cast("long").alias("cohort"),
        v.alias("v"),
        (v / F.sum("vd").over(w_type).cast("double")).alias("share_of_type"),
        (v / F.sum("vd").over(w_all).cast("double")).alias("share_of_total"),
    ).orderBy("event_type", "cohort")


@register(
    "q85_time_weighted_avg",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             CAST(floor(value * 1000000) AS BIGINT) AS v6,
             epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      - ts) AS dur_us
      FROM events
    )
    SELECT user_id,
           CAST(sum(dur_us) AS BIGINT) AS total_us,
           round(CAST(sum(CAST(v6 AS DECIMAL(38,0)) * dur_us) AS DOUBLE)
                 / CAST(sum(dur_us) AS DOUBLE) / 1000000.0, 6) AS twap
    FROM iv WHERE dur_us IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def q85_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation weighted by how long
    it was current (lead-interval durations in EXACT microseconds — whole
    seconds truncate differently across engines), decimal weighted sum ÷
    integer total — the time-series aggregate a plain avg gets wrong on
    irregular sampling. Values enter as exact integer micro-units
    (floor(value·1e6)) so the weighted sum is exact; the >2⁵³ decimal →
    double conversion can still differ by an ulp between engines, so twap
    carries the same 6-dp rounding contract as q23's cosines. One window +
    one agg shuffle."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dur = (
        F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp"))
    ).alias("dur_us")
    iv = ev.select(
        "user_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
        dur,
    ).filter(F.col("dur_us").isNotNull())
    return (
        iv.groupBy("user_id")
        .agg(
            F.sum("dur_us").alias("total_us"),
            F.round(
                F.sum(F.col("v6").cast("decimal(38,0)") * F.col("dur_us"))
                .cast("double")
                / F.sum("dur_us").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


#: the TPC-H-ish schema's FK graph: (child, fk_col, parent, pk_col)
_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "q86_integrity_audit",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}.{fk} -> {p}.{pk}' AS fk, count(*) AS n_rows,
            count(*) FILTER (WHERE {pk_alias} IS NULL) AS n_orphans
            FROM {c} LEFT JOIN (SELECT {pk} AS {pk_alias} FROM {p}) USING ()
            """.replace("USING ()", f"ON {pk_alias} = {fk}")
        for c, fk, p, pk in _FK_EDGES
        for pk_alias in [f"__pk_{pk}"]
    )
    + "\nORDER BY fk",
)
def q86_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity audit in one result: orphan
    counts for every FK edge of the catalog (the B8/M6 constraint plane as
    a single profiling query). Each edge is a broadcast left join + one
    aggregate; parents are dimension-sized."""
    rows = []
    for child, fk, parent, pk in _FK_EDGES:
        c = _t(spark, sf_dir, child).select(F.col(fk).alias("k"))
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("pk")).distinct()
        rows.append(
            c.join(F.broadcast(p), F.col("k") == F.col("pk"), "left").agg(
                F.lit(f"{child}.{fk} -> {parent}.{pk}").alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("pk").isNull(), 1)).alias("n_orphans"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("fk")


@register(
    "q87_cluster_keep_best",
    # q51's recursive reachability gives the clusters; the keeper is the
    # LONGEST member (ties → lowest id) via lexicographic struct max
    oracle=_JACCARD_ORACLE_BODY.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + """
    , pairs AS (SELECT id1, id2 FROM scored WHERE jaccard >= 0.6),
    edges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION ALL SELECT id2 AS a, id1 AS b FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    members AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
    sized AS (
      SELECT m.cluster_id, m.doc_id, length(c.text) AS n_chars
      FROM members m JOIN corpus c ON c.doc_id = m.doc_id
    )
    SELECT cluster_id,
           count(*) AS n_members,
           max(struct_pack(n_chars := n_chars, neg_id := -doc_id)).neg_id * -1
             AS keeper_id,
           max(struct_pack(n_chars := n_chars, neg_id := -doc_id)).n_chars
             AS keeper_chars
    FROM sized GROUP BY cluster_id ORDER BY cluster_id
    """,
)
def q87_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup policy: per near-dup cluster, retain the
    highest-quality member (longest text, ties → lowest id) instead of the
    min-id keeper — the policy real corpus curation wants (the mutated copy
    is truncated, so the original should win). Clusters from connected
    components; keeper via lexicographic struct arg-max."""
    from .operators.graph import connected_components

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.6)
    cc = connected_components(pairs, "id1", "id2")
    sized = cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        corpus.select("doc_id", F.length("text").alias("n_chars")), "doc_id"
    )
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
    return (
        sized.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (best["neg_id"] * -1).alias("keeper_id"),
            best["n_chars"].alias("keeper_chars"),
        )
        .orderBy("cluster_id")
    )


#: accent fold tables — IDENTICAL order in Spark translate and DuckDB
#: translate so the mapping is engine-equal
_ACCENT_FROM = "àáâãäåèéêëìíîïòóôõöùúûüÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜçÇñÑ"
_ACCENT_TO = "aaaaaaeeeeiiiiooooouuuuAAAAAAEEEEIIIIOOOOOUUUUcCnN"

_HTML_CORPUS_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN '<div class="x">' || text ||
                     '</div> &amp; <a href="http://e.g/p?q=1">link</a> &lt;raw&gt;'
                ELSE text END AS text
    FROM documents
"""


@register(
    "q88_html_strip",
    oracle=f"""
    WITH corpus AS ({_HTML_CORPUS_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT) AS n_tags,
           trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(text,
                  '<[^>]*>', ' ', 'g'),
                  '&amp;', '&', 'g'),
                  '&lt;', '<', 'g'),
                  '&gt;', '>', 'g'),
                  '&quot;', '"', 'g'),
                  '\\s+', ' ', 'g')) AS clean
    FROM corpus ORDER BY doc_id
    """,
)
def q88_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/markup stripping for web corpora: remove tags, decode
    the core entities, collapse whitespace — with a per-doc removed-tag
    count. RE2-safe patterns run verbatim on both engines; pure column
    expressions, no shuffle."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.concat(
        F.lit('<div class="x">'), F.col("text"),
        F.lit('</div> &amp; <a href="http://e.g/p?q=1">link</a> &lt;raw&gt;'),
    )
    corpus = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, injected).otherwise(F.col("text")).alias("text"),
    )
    t = F.col("text")
    clean = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"')):
        clean = F.regexp_replace(clean, ent, ch)
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return corpus.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(r"<[^>]*>"), F.lit(0)))
        .cast("long")
        .alias("n_tags"),
        clean.alias("clean"),
    ).orderBy("doc_id")


@register(
    "q89_accent_fold",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN text || ' café naïve Àbc señor Öl ûber'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           translate(text, '{_ACCENT_FROM}', '{_ACCENT_TO}') AS folded,
           CAST(len(regexp_extract_all(text, '[{_ACCENT_FROM}]')) AS BIGINT)
             AS n_accent_chars
    FROM corpus ORDER BY doc_id
    """,
)
def q89_accent_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accent folding (diacritic normalization) via an explicit translate
    table — the deterministic subset of Unicode NFKD the two engines can
    agree on byte-for-byte — plus a per-doc accented-char count. Pure
    column expressions, no shuffle."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" café naïve Àbc señor Öl ûber")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus.select(
        "doc_id",
        F.translate(F.col("text"), _ACCENT_FROM, _ACCENT_TO).alias("folded"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(f"[{_ACCENT_FROM}]"), F.lit(0))
        )
        .cast("long")
        .alias("n_accent_chars"),
    ).orderBy("doc_id")


def _q33_oracle() -> str:
    from .operators.sketches import hll_oracle_sql

    return (
        hll_oracle_sql("lineitem", ["l_returnflag"], "l_orderkey", p=10,
                       out_col="approx_orders")
        + " ORDER BY l_returnflag"
    )


@register("q33_approx_distinct", oracle=_q33_oracle())
def q33_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (§2.4): portable HLL (operators/sketches.py)
    for cheap PK-uniqueness profiling at 100 TB — one pass, map-side partial
    max per register, ≤2^10 shuffle rows per group; no exact-distinct
    shuffle in the query. The md5-derived registers and integer-scaled
    harmonic sum are engine-independent, so the DuckDB oracle reproduces the
    estimate bit-for-bit (unlike approx_count_distinct's HLL++, kept as the
    production fast path and error-bounded in pytest)."""
    from .operators.sketches import hll_approx_distinct

    li = _t(spark, sf_dir, "lineitem")
    return hll_approx_distinct(
        li, ["l_returnflag"], "l_orderkey", p=10, out_col="approx_orders"
    ).orderBy("l_returnflag")


@register(
    "q34_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS total, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q34_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (§2.4 — beyond rollup/cube) via Spark SQL."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS total, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


@register(
    "q35_quantiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6)  AS median_qty,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q35_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — Spark ``percentile`` ≡
    DuckDB ``quantile_cont``), rounded to 6dp to absorb interpolation-order
    float noise."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    ).orderBy("l_returnflag")


@register(
    "q36_range_join",
    oracle="""
    SELECT o.o_orderkey,
           count(l.l_orderkey) AS n_shipped_30d,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS qty_30d
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderkey ORDER BY o.o_orderkey
    """,
)
def q36_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join (§2.4): equi-key + time-interval condition — the
    equi key drives the shuffle, the range is a post-join filter, so it
    scales like a plain join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < F.timestamp_add("DAY", F.lit(30), o.o_orderdate))
    )
    return (
        o.join(li, cond, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").alias("n_shipped_30d"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("qty_30d"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q37_correlated_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c.c_custkey
    """,
)
def q37_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (§2.4) — Catalyst decorrelates it into an
    aggregate + join. avg stays double-only in a comparison (never emitted),
    so engine summation order can't affect output values."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_acctbal
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                             WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c.c_custkey
        """
    )


@register(
    "q38_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    ORDER BY p_partkey, metric
    """,
)
def q38_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (§2.4 'pivot/unpivot') via the native unpivot operator —
    a projection+generate, no shuffle."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice"),
        )
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")
        .orderBy("p_partkey", "metric")
    )


@register(
    "q39_surrogate_keys",
    oracle="""
    SELECT 1000 + (row_number() OVER (ORDER BY s_suppkey) - 1) * 2 AS rid,
           s_suppkey, s_name
    FROM supplier ORDER BY s_suppkey
    """,
)
def q39_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTITY(start, step) semantics as deterministic surrogate keys
    (reference B6, :1451-1481): start=1000, step=2 over the supplier load."""
    from .operators.sequences import assign_surrogate_keys

    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return assign_surrogate_keys(s, ["s_suppkey"], "rid", start=1000, step=2).select(
        "rid", "s_suppkey", "s_name"
    ).orderBy("s_suppkey")


@register(
    "q31_running_sum",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,8)))
             OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty
    FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
)
def q31_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast(DEC)).over(w).cast("double").alias("running_qty"),
    ).orderBy("l_suppkey", "l_orderkey", "l_linenumber")


@register(
    "q90_dedup_clusters_star",
    # identical output contract to q51 (same pair graph, same cluster ids),
    # so the same recursive-CTE oracle gates the alternating-star engine
    oracle=_JACCARD_ORACLE_BODY.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + """
    , pairs AS (SELECT id1, id2 FROM scored WHERE jaccard >= 0.6),
    edges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION ALL SELECT id2 AS a, id1 AS b FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id,
           (node = min(lbl)) AS is_keeper
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def q90_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering via alternating large-star/small-star CC (Kiveris
    et al., SOCC'14) — q51's scale twin for high-diameter graphs. Rounds are
    O(log^2 n) independent of component diameter, so chained LSH buckets
    can't blow up the iteration count the way min-label propagation's
    diameter-bound can. Same keeper contract: cluster_id = min doc_id."""
    from .operators.graph import connected_components_star

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.6)
    # ngram_jaccard_pairs emits distinct (id1 < id2) rows — skip the
    # engine's init dedup exchange and its extra checkpoint+count
    cc = connected_components_star(pairs, "id1", "id2", assume_distinct=True)
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    ).orderBy("doc_id")


def _q91_oracle() -> str:
    from .operators.sketches import hll_sliding_oracle_sql

    return (
        "SELECT CAST(wday AS VARCHAR) AS day, approx_users FROM ("
        + hll_sliding_oracle_sql(
            "events", "CAST(date_trunc('day', ts) AS DATE)", "user_id",
            p=10, window_days=7, out_col="approx_users",
        )
        + ") ORDER BY day"
    )


@register("q91_sliding_hll_users", oracle=_q91_oracle())
def q91_sliding_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day approximate distinct users per day via HLL register
    MERGE (operators/sketches.py hll_sliding_distinct) — the sketch
    mergeability pattern that answers sliding distinct counts at 100 TB
    with ONE register pass over the raw data and window-sized re-maxes,
    never a per-window re-scan. Portable md5-based HLL → the DuckDB oracle
    reproduces the estimate bit-for-bit."""
    from .operators.sketches import hll_sliding_distinct

    ev = _t(spark, sf_dir, "events")
    out = hll_sliding_distinct(
        ev, F.to_date(F.date_trunc("day", F.col("ts"))), "user_id",
        p=10, window_days=7, out_col="approx_users",
    )
    return out.select(
        F.col("wday").cast("string").alias("day"), "approx_users"
    ).orderBy("day")


@register(
    "q92_weighted_sample",
    oracle="""
    WITH tape AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n_chars) OVER (PARTITION BY source) AS tot
      FROM documents
    )
    SELECT source, doc_id, n_chars
    FROM tape
    WHERE (cum * 20) // tot > ((cum - n_chars) * 20) // tot
    ORDER BY source, doc_id
    """,
)
def q92_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted systematic sampling, selection probability ∝
    document length: exactly 20 docs per source, chosen where the cumulative
    char tape crosses multiples of total/20. Pure BIGINT arithmetic — no
    RNG — so the SAME sample falls out on any cluster layout and in the SQL
    oracle (the reproducible-sampling contract training pipelines need)."""
    from .operators.curation import weighted_systematic_sample

    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return weighted_systematic_sample(
        d, "source", "doc_id", "n_chars", k=20
    ).orderBy("source", "doc_id")


@register(
    "q93_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,8)))
                AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS VARCHAR) AS orderdate, o.o_orderpriority AS priority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderkey LIMIT 10
    """,
)
def q93_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: 3-way join (filtered customer
    broadcast into orders, result joined to lineitem), revenue agg, top-10.
    The segment filter prunes customer BEFORE the broadcast; date filters
    push to the parquet scans; top-k compiles to TakeOrderedAndProject (no
    global sort). Unique tie-break (revenue desc, orderkey) keeps the limit
    deterministic across engines."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("string").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("orderkey", "revenue", "orderdate", "priority")
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
    )


@register(
    "q94_nation_pair_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,8)))
                AS DOUBLE) AS volume,
           count(*) AS n_lines
    FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name IN ('NATION_3', 'NATION_19') AND cn.n_name IN ('NATION_3', 'NATION_19')
      AND sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    ORDER BY supp_nation, cust_nation, ship_year
    """,
)
def q94_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped cross-nation trade volume: a 6-table join where every
    dimension (supplier, customer, both nation legs) broadcasts and the only
    big-table shuffle is lineitem⋈orders; the nation filter is applied on
    the broadcast side BEFORE the join so non-qualifying suppliers/customers
    never reach the probe."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    nations = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_19")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nations.select(F.col("n_nationkey").alias("s_nationkey"),
                                       F.col("n_name").alias("supp_nation"))),
            "s_nationkey",
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(nations.select(F.col("n_nationkey").alias("c_nationkey"),
                                       F.col("n_name").alias("cust_nation"))),
            "c_nationkey",
        )
        .select("c_custkey", "cust_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.sum(rev).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@register(
    "q95_percentile_interp",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority AS priority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    grid AS (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS p),
    pos AS (
      SELECT DISTINCT priority, n, p,
             CAST(n - 1 AS DOUBLE) * p AS h
      FROM ranked, grid
    ),
    lerp AS (
      SELECT pos.priority, pos.p, pos.h,
             lo.o_totalprice AS lo_v, hi.o_totalprice AS hi_v
      FROM pos
        JOIN ranked lo ON lo.priority = pos.priority
                      AND lo.rn = CAST(floor(pos.h) AS BIGINT) + 1
        JOIN ranked hi ON hi.priority = pos.priority
                      AND hi.rn = least(CAST(floor(pos.h) AS BIGINT) + 2, pos.n)
    )
    SELECT priority, p AS pct,
           lo_v + (hi_v - lo_v) * (h - floor(h)) AS value
    FROM lerp ORDER BY priority, pct
    """,
)
def q95_percentile_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated percentiles (PERCENTILE_CONT semantics) computed from
    first principles so the lerp is engine-exact: rank rows per group with a
    unique total order, join the two bracketing ranks for each requested
    percentile, lerp with the same double ops on both sides. One window
    shuffle + two rank joins — no full sort of the group into one node.
    (Spark's built-in percentile_approx is the production fast path; this is
    the exact, oracle-checkable formulation.)"""
    o = _t(spark, sf_dir, "orders")
    wr = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wn = W.partitionBy("o_orderpriority")
    ranked = o.select(
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).localCheckpoint(eager=False)
    grid = ranked.sparkSession.createDataFrame(
        [(0.25,), (0.5,), (0.75,)], "p double"
    )
    pos = (
        ranked.select("priority", "n").distinct().crossJoin(F.broadcast(grid))
        .select(
            "priority", "n", "p",
            ((F.col("n") - 1).cast("double") * F.col("p")).alias("h"),
        )
    )
    lo = ranked.select(
        F.col("priority").alias("lo_p"), F.col("rn").alias("lo_rn"),
        F.col("o_totalprice").alias("lo_v"),
    )
    hi = ranked.select(
        F.col("priority").alias("hi_p"), F.col("rn").alias("hi_rn"),
        F.col("o_totalprice").alias("hi_v"),
    )
    lo_rn = F.floor(F.col("h")).cast("long") + 1
    hi_rn = F.least(F.floor(F.col("h")).cast("long") + 2, F.col("n"))
    return (
        pos.join(lo, (F.col("priority") == F.col("lo_p")) & (lo_rn == F.col("lo_rn")))
        .join(hi, (F.col("priority") == F.col("hi_p")) & (hi_rn == F.col("hi_rn")))
        .select(
            "priority",
            F.col("p").alias("pct"),
            (
                F.col("lo_v")
                + (F.col("hi_v") - F.col("lo_v")) * (F.col("h") - F.floor(F.col("h")))
            ).alias("value"),
        )
        .orderBy("priority", "pct")
    )


@register(
    "q96_nucleus_share_filter",
    oracle="""
    WITH tape AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n_chars) OVER (PARTITION BY source) AS tot
      FROM documents
    )
    SELECT source, doc_id, n_chars, CAST(cum AS BIGINT) AS cum
    FROM tape WHERE cum * 10 <= tot * 8
    ORDER BY source, doc_id
    """,
)
def q96_nucleus_share_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) corpus filter: per source, keep the largest documents
    until they hold 80% of the source's total chars — the 'head of the mass'
    admission rule used to cap long-tail noise. The share comparison is kept
    in integers (cum*10 ≤ tot*8), so the cut is exact in both engines. One
    window shuffle on source."""
    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = (
        W.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy("source")
    return (
        d.select(
            "source", "doc_id", "n_chars",
            F.sum("n_chars").over(w).alias("cum"),
            F.sum("n_chars").over(wt).alias("tot"),
        )
        .filter(F.col("cum") * 10 <= F.col("tot") * 8)
        .select("source", "doc_id", "n_chars", "cum")
        .orderBy("source", "doc_id")
    )
