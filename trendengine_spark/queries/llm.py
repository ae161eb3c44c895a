"""LLM-training-data-pipeline queries over ``documents`` /
``embeddings`` (north-star extensions, SURVEY §2.6 bottom row).

Oracle policy: exact dedup, fingerprinting, connected-components
clustering + the surviving-corpus output (checked against a DuckDB
recursive-CTE closure), token/quality/language profiling, exact
n-gram Jaccard, chunking, brute-force cosine top-k, embedding
normalize/quantize, pipeline assembly (sampling, packing), and the
multimodal real-codec decode paths (PNG/JPEG/WAV) are all
SQL-expressible → full DuckDB oracle. The LSH variants (MinHash
bands, SimHash blocks, hyperplane ANN, IVF) are the 100 TB scale
paths of the same semantics — their candidate generation is seeded on
``xxhash64`` (no DuckDB twin), so they are declared rows-only and
their recall/consistency is asserted in ``tests/test_llm_ops.py``
against the exact twins.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from trendengine_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from trendengine_spark.operators.multimodal import (
    attach_fake_media,
    extract_media_features,
    media_content_stats,
    resize_images,
    sample_frames,
)
from trendengine_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    random_hyperplane_ann,
)
from trendengine_spark.operators.text import (
    BPE_ISH,
    bpe_ish_tokens,
    fingerprint_md5,
    language_id,
    quality_features,
    token_count,
    winnow_fingerprints,
)
from trendengine_spark.queries.base import query, t
from trendengine_spark.sqltext import sql_over_tables

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"


# ------------------------------------------------------------------ dedup
@query(
    "dedup_exact",
    sql=f"""
    SELECT {_NORM_SQL} AS norm_text, min(doc_id) AS rep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-group on normalized text, min-id representative."""
    return exact_dedup(t(spark, sf_dir, "documents"))


@query(
    "dedup_fingerprint_md5",
    sql=f"""
    SELECT md5({_NORM_SQL}) AS fp, min(doc_id) AS rep_id, count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def dedup_fingerprint_md5(spark, sf_dir):
    """Content-hash fingerprint dedup (md5 of normalized text) — the
    fixed-width variant of dedup_exact for wide-row shuffles."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.col("doc_id"), fingerprint_md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, array_to_string(ts[i:i+2], ' ') AS shingle
      FROM tok, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS u(i)
      WHERE len(ts) >= 3
    ),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """EXACT 3-gram Jaccard near-dup pairs (≥ 0.5) via the inverted
    shingle index — no all-pairs join; this is the oracle-checked
    exact twin of the MinHash-LSH scale path."""
    out = ngram_jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.5, n=3)
    return out.select(
        "id_a", "id_b", "n_common", "n_a", "n_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


@query(
    "dedup_minhash_lsh",
    sql=None,
    doc="MinHash-LSH near-dup candidates (64 perms, 16 bands) with "
    "signature-estimated Jaccard ≥ 0.35 — the bucketed scale path; "
    "recall vs the exact twin asserted in tests.",
)
def dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents"), threshold=0.35, num_perm=64, bands=16
    )


def jaccard_cluster_labels(spark, sf_dir, threshold=0.5, n=3):
    """Shared pair→cluster stage (r11, VERDICT finding 2): the exact
    n-gram Jaccard pair set and its connected-components labels feed
    THREE registry queries (cluster assignment, corpus survivors,
    leakage-safe split). Each used to rebuild the identical
    pipeline; this memo computes it once per (session, source,
    params) and serves the persisted labels to every consumer —
    the ``graph.lpa.edges`` sharing pattern. The bench harness drops
    the pool between samples, so timed samples still pay full cost."""
    from trendengine_spark.operators.dedup import dedup_clusters
    from trendengine_spark.operators.util import owned_cache_get

    key = f"dedup.jaccard.clusters.{n}.{threshold}.{sf_dir}"
    return owned_cache_get(
        spark,
        key,
        lambda: dedup_clusters(
            ngram_jaccard_pairs(
                t(spark, sf_dir, "documents"), threshold=threshold, n=n
            ),
            pairs_unique=True,  # groupBy output: unique, id_a < id_b
        ),
    )


@query(
    "dedup_cluster_assignment",
    sql=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id AS id, array_to_string(ts[i:i+2], ' ') AS shingle
      FROM tok, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS u(i)
      WHERE len(ts) >= 3
    ), sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
    )
    SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    """,
)
def dedup_cluster_assignment(spark, sf_dir):
    """End-to-end near-dup clustering: exact n-gram Jaccard pairs →
    connected components → (id, cluster_id = min id in component).
    Spark side is O(log d)-round pointer-jumping label propagation
    (scale path); the oracle computes the same fixpoint as a DuckDB
    recursive-CTE transitive closure (fine at oracle scale, O(V·
    component) rows) — upgrading this from rows-only to hash-checked."""
    return jaccard_cluster_labels(spark, sf_dir)


@query(
    "dedup_simhash",
    sql=f"""
    WITH tok AS (
      SELECT doc_id AS id, unnest({_TOKS_SQL}) AS token FROM documents
    ),
    th AS (
      SELECT id,
             CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) AS h_hi,
             CAST(concat('0x', substr(md5(token), 9, 8)) AS BIGINT) AS h_lo
      FROM tok
    ),
    bsum AS (
      SELECT id, j,
             sum(CASE WHEN ((CASE WHEN j < 32 THEN h_lo ELSE h_hi END
                             >> (j % 32)) & 1) = 1 THEN 1 ELSE -1 END) AS s
      FROM th, unnest(generate_series(0, 63)) AS jj(j)
      GROUP BY id, j
    ),
    fp AS (
      SELECT id,
             CAST(sum(CASE WHEN s > 0 AND j < 32
                           THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
               AS fp_lo,
             CAST(sum(CASE WHEN s > 0 AND j >= 32
                           THEN (1::BIGINT << (j - 32)) ELSE 0 END) AS BIGINT)
               AS fp_hi
      FROM bsum GROUP BY id
    ),
    blk AS (
      SELECT id, fp_lo, fp_hi, k,
             CASE k WHEN 0 THEN fp_lo & 65535
                    WHEN 1 THEN (fp_lo >> 16) & 65535
                    WHEN 2 THEN fp_hi & 65535
                    ELSE (fp_hi >> 16) & 65535 END AS blk_val
      FROM fp, unnest(generate_series(0, 3)) AS kk(k)
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.fp_lo, b.fp_lo))
                + bit_count(xor(a.fp_hi, b.fp_hi)) AS INT) AS hamming
    FROM blk a JOIN blk b ON a.k = b.k AND a.blk_val = b.blk_val
    WHERE a.id < b.id
      AND bit_count(xor(a.fp_lo, b.fp_lo))
          + bit_count(xor(a.fp_hi, b.fp_hi)) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash-64 near-dup pairs at Hamming ≤ 3, pigeonhole-bucketed
    by 16-bit blocks (recall 1.0 for ≤3 differing bits by the
    pigeonhole principle — no all-pairs join, candidates only within
    equal (block, value) buckets).

    ORACLE-BACKED since r10 (was rows-only), by the md5-family
    re-anchoring playbook (the r9 dedup_incremental_batch trick):
    token-hash bits come from md5's first 16 hex chars as two 32-bit
    integer halves, so DuckDB recomputes the IDENTICAL 64 bit-sums,
    fingerprints, pigeonhole buckets and Hamming distances
    relationally. Output is pure integers — the hash compare carries
    no float tolerance. xxhash64 remains the operator's 100 TB
    default family (``operators/dedup.py simhash_fingerprints``)."""
    return simhash_near_pairs(
        t(spark, sf_dir, "documents"), max_hamming=3, family="md5"
    )


# ------------------------------------------------------------- text analysis
@query(
    "text_quality_profile",
    sql=f"""
    WITH q AS (
      SELECT doc_id, lang, text, {_TOKS_SQL} AS ts FROM documents
    )
    SELECT doc_id, lang,
           CAST(length(text) AS INT) AS n_chars_c,
           CAST(len(ts) AS INT) AS n_tokens,
           round(CASE WHEN len(ts) > 0
                 THEN list_sum(list_transform(ts, x -> length(x))) / CAST(len(ts) AS DOUBLE)
                 ELSE 0.0 END, 6) AS avg_token_len,
           round(CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')))
                      / CAST(length(text) AS DOUBLE) ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                      / CAST(length(text) AS DOUBLE) ELSE 0.0 END, 6) AS digit_ratio,
           round(CASE WHEN len(ts) > 0
                 THEN len(list_filter(ts, x -> list_contains(
                        ['the','a','and','of','to','in','is','that'], lower(x))))
                      / CAST(len(ts) AS DOUBLE) ELSE 0.0 END, 6) AS stopword_ratio
    FROM q
    """,
)
def text_quality_profile(spark, sf_dir):
    """Per-document quality features (length/token/punct/digit/stopword)
    — single projection pass, no shuffle."""
    out = quality_features(t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "lang", "n_chars_c", "n_tokens", "avg_token_len",
        "punct_ratio", "digit_ratio", "stopword_ratio",
    )


@query(
    "text_language_id",
    sql=f"""
    WITH s AS (
      SELECT doc_id, lang, {_TOKS_SQL} AS ts FROM documents
    ), sc AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(ts, x -> list_contains(['der','die','das','und','von','ein','ist','nicht'], lower(x)))) AS INT) AS score_de,
        CAST(len(list_filter(ts, x -> list_contains(['the','a','and','of','to','in','is','that'], lower(x)))) AS INT) AS score_en,
        CAST(len(list_filter(ts, x -> list_contains(['el','la','y','de','un','una','es','que'], lower(x)))) AS INT) AS score_es,
        CAST(len(list_filter(ts, x -> list_contains(['le','la','et','de','un','une','est','que'], lower(x)))) AS INT) AS score_fr
      FROM s
    )
    SELECT doc_id, lang, score_de, score_en, score_es, score_fr,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) <= 0 THEN 'und'
                WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
                WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
                WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM sc
    """,
)
def text_language_id(spark, sf_dir):
    """Heuristic stopword-score language ID (argmax, deterministic
    tie-break by language code)."""
    out = language_id(t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "lang", "score_de", "score_en", "score_es", "score_fr", "lang_pred"
    )


@query(
    "text_token_explode_tf",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
    )
    SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM tok GROUP BY token
    """,
)
def text_token_explode_tf(spark, sf_dir):
    """Corpus term/document frequency (the TF-IDF building block)."""
    docs = t(spark, sf_dir, "documents")
    from trendengine_spark.operators.text import tokens_col

    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    return tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )


@query(
    "text_tfidf_top_terms",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, term) AS INT) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document: tf and df are two hash
    aggregates over the exploded token stream, idf joins back on the
    term (the df side is vocabulary-sized → broadcasts), top-k is a
    per-doc window. The full TF-IDF vectorization primitive without
    pyspark.ml's fitted pipeline — deterministic and oracle-checked."""
    from pyspark.sql import Window

    from trendengine_spark.operators.text import tokens_col

    docs = t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id", "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )


@query(
    "text_token_count_bpe",
    sql=f"""
    SELECT doc_id,
           CAST(len({_TOKS_SQL}) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_ISH}')) AS INT)
               AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_count_bpe(spark, sf_dir):
    """Token counting two ways per document: whitespace tokens and a
    BPE-ish pre-tokenizer (letter runs / digit runs / single symbols
    — the lookahead-free GPT-2 pattern core). Both are single-pass
    regexp projections, JVM-side."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        F.size(bpe_ish_tokens(F.col("text"))).alias("n_bpe_tokens"),
    )


@query(
    "text_winnow_fingerprints",
    sql=f"""
    WITH g AS (
        SELECT doc_id, {_NORM_SQL} AS norm FROM documents
    ), pos AS (
        SELECT doc_id, i,
               substr(md5(substr(norm, CAST(i AS INT), 5)), 1, 16) AS h
        FROM g, unnest(generate_series(1, length(norm) - 4)) AS u(i)
        WHERE length(norm) >= 5
    ), wmin AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                 AS fp,
               i,
               count(*) OVER (PARTITION BY doc_id) AS np
        FROM pos
    )
    SELECT DISTINCT doc_id, fp AS fingerprint
    FROM wmin WHERE i <= np - 3 OR (np < 4 AND i = 1)
    """,
)
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints per document: any
    shared substring of length >= k+w-1 yields a common fingerprint,
    so overlap detection is an equi-join on this output — the
    scale-safe alternative to pairwise text comparison.

    Oracle form (r11): the window-min rendering — one position
    explode, one vectorized md5 column, one 4-row frame min, short
    docs (< w windows) emitting their single global min via the
    (np < 4, i = 1) branch. Result-identical to the original
    per-row list_transform rendering (verified row-for-row in r10
    when it became the sf3 throughput twin), but the md5 runs as a
    plain vectorized column instead of an interpreted per-element
    lambda — ~100× faster in DuckDB, which is what makes the sf1+
    full-registry sweeps affordable."""
    return winnow_fingerprints(t(spark, sf_dir, "documents"), k=5, w=4)


# --------------------------------------------------------------- similarity
@query(
    "sim_cosine_topk",
    sql="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < 10
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             list_dot_product(qe, e.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(qe, qe)) *
                sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS c
      FROM q, embeddings e WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, vec_id, c,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS INT) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, round(c, 4) AS cos_sim, rn
    FROM ranked WHERE rn <= 5
    """,
)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 for 10 query vectors: broadcast
    query matrix × one corpus pass + per-query window. The query side
    is fetched driver-side with pyarrow (client input, no Spark
    job — a distributed collect for 10 vectors costs a full job
    launch, ~100-150 ms of pure scheduler constant at sf0.1)."""
    from trendengine_spark.operators.similarity import load_query_vectors

    emb = t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, k=5, queries_local=load_query_vectors(sf_dir))


@query(
    "sim_range_search",
    sql="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < 10
    )
    SELECT q.query_id, e.vec_id,
           round(list_dot_product(qe, e.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(qe, qe)) *
                  sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))), 4)
             AS cos_sim
    FROM q, embeddings e
    WHERE e.vec_id <> q.query_id
      AND list_dot_product(qe, e.embedding::DOUBLE[]) /
          (sqrt(list_dot_product(qe, qe)) *
           sqrt(list_dot_product(e.embedding::DOUBLE[],
                                 e.embedding::DOUBLE[]))) >= 0.3
    """,
)
def sim_range_search(spark, sf_dir):
    """Radius (threshold) search: every corpus vector with cosine
    ≥ 0.3 to each of 10 query vectors — the similarity-bounded twin
    of sim_cosine_topk's count-bounded search, and the primitive
    behind embedding-level near-dup blocking. Spark plan: broadcast
    query matrix × one ``mapInArrow`` BLAS pass over the corpus,
    emit-if-above inside the batch — NO window, NO shuffle (the
    map-only plan is the whole point of radius search at scale).
    τ=0.3 is calibrated non-vacuous on the synthetic corpus at every
    sf (max observed cosine ≈ 0.49)."""
    from trendengine_spark.operators.similarity import (
        cosine_range_search,
        load_query_vectors,
    )

    emb = t(spark, sf_dir, "embeddings")
    return cosine_range_search(
        emb, None, threshold=0.3, queries_local=load_query_vectors(sf_dir)
    )


@query(
    "sim_ann_hyperplane",
    sql="""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    par AS (
      SELECT CAST(least(24, greatest(8, min(pp.p))) AS INT) AS ppb
      FROM nn, unnest(generate_series(1, 40)) AS pp(p)
      WHERE (CAST(1 AS BIGINT) << pp.p) >= nn.n
    ),
    bnd AS (
      SELECT ppb,
             CASE ppb WHEN 8 THEN 99 WHEN 9 THEN 167
                      ELSE 256 END AS nb
      FROM par
    ),
    signs AS (
      SELECT p, i,
             CASE WHEN (CAST(concat('0x',
                    substr(md5('hp:' || p || ':' || i), 1, 15)) AS BIGINT)
                    & 1) = 1 THEN 1 ELSE -1 END AS s
      FROM bnd,
           unnest(generate_series(0, bnd.ppb * bnd.nb - 1)) AS pp(p),
           unnest(generate_series(0, 63)) AS ii(i)
    ),
    qv AS (
      SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(round(unnest(embedding::DOUBLE[]) * 1024) AS BIGINT) AS q
      FROM embeddings
    ),
    dots AS (
      SELECT qv.id, signs.p, sum(signs.s * qv.q) AS d
      FROM qv JOIN signs ON signs.i = qv.i
      GROUP BY qv.id, signs.p
    ),
    sigs AS (
      SELECT id, CAST(p // bnd.ppb AS INT) AS band,
             CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % bnd.ppb))
                           ELSE 0 END) AS BIGINT) AS sig
      FROM dots, bnd GROUP BY id, p // bnd.ppb
    ),
    cand AS (
      SELECT DISTINCT q.id AS query_id, c.id AS vec_id
      FROM sigs q JOIN sigs c ON q.band = c.band AND q.sig = c.sig
      WHERE q.id < 10 AND c.id <> q.id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             list_dot_product(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(qe.embedding::DOUBLE[],
                                      qe.embedding::DOUBLE[])) *
                sqrt(list_dot_product(ce.embedding::DOUBLE[],
                                      ce.embedding::DOUBLE[]))) AS c
      FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                JOIN embeddings ce ON ce.vec_id = cand.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, c,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY c DESC, vec_id) AS INT) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, round(c, 4) AS cos_sim, rn
    FROM ranked WHERE rn <= 5
    """,
)
def sim_ann_hyperplane(spark, sf_dir):
    """Random-hyperplane LSH ANN top-5 with DERIVED knobs (r14,
    VERDICT r13 #1): band width p = ceil(log2 n) clamped [8, 24]
    (adaptive_planes_per_band — bucket occupancy, and with it
    candidate volume per (query, band), stays ~1 at every corpus
    size) and band count from the frozen _ANN_BANDS_FOR_P table
    (ADVICE r13 — bands scale with p so recall at the demo
    similarity holds instead of collapsing as p widens). The oracle
    transcribes BOTH derivations: the `par` CTE recomputes p by the
    same integer shift-compare from count(*), and `bnd` mirrors the
    integer table as a CASE — no baked knob values, so one SQL text
    is hash-green at every sf. Corpus signatures in one mapInArrow
    BLAS pass, candidates from ONE broadcast (band, sig) equi-join,
    exact cosine re-rank only inside the candidate set.

    ORACLE-BACKED since r10 (was rows-only), by md5-seeding the
    planes: ±1 plane signs derive from md5('hp:p:i') and vectors are
    quantized to exact integers (round(v·1024) — power-of-two scaling
    is exact), so every plane dot product is exact int64 arithmetic
    and DuckDB rebuilds the IDENTICAL buckets, candidate sets and
    top-5 relationally. The Gaussian plane family stays the operator
    default; recall floors for both families asserted in tests."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return random_hyperplane_ann(emb, queries, k=5, dim=64, family="md5")


# ------------------------------------------------------------------
# sim_ivf_topk — FULL ORACLE since r12 (was rows-only under "learned
# k-means cells"). The coarse quantizer transcribes with the
# determinism rulebook: md5-ranked seed selection (engine-portable
# pseudo-random init — the production xxhash64 init has no DuckDB
# twin), Lloyd rounds on round(v·1024)-quantized integers (squared
# Euclidean distances and centroid-mean numerators are EXACT int64,
# the mean re-quantizes via floor(x+0.5) — one deterministic double
# op), probing and the verify cosine as fixed-expression doubles over
# exact integer dots. BOTH engines run the same program (one shared
# template, dialect differing only in the position-explode spelling),
# so every bucket, candidate set and score is bit-identical.
_IVF_NPROBE = 6
_IVF_K = 5


def _ivf_sql(pos_body: str) -> str:
    """The IVF program text (DuckDB oracle since r14 — the Spark side
    executes the SAME program STEPWISE with pivoted Lloyd rounds, see
    sim_ivf_topk). ``pos_body`` yields the quantized (id, i, q)
    position rows. r14 (VERDICT r13 #1): the cell count is DERIVED
    from the corpus count inside the text — `cells` recomputes
    adaptive_n_cells' integer ceil-sqrt (smallest c with c*c >= n,
    clamped [16, 4096]) as a bounded generate_series scan, the same
    `par`-CTE pattern the r13 LSH twins use — so one SQL string is
    hash-green at every sf with no baked knob."""
    np_, k = _IVF_NPROBE, _IVF_K
    return f"""
pos AS ({pos_body}),
nn AS (SELECT count(*) AS n FROM embeddings),
cells AS (
  SELECT CAST(least(4096, greatest(16, min(cc.c))) AS INT) AS nc
  FROM nn, unnest(generate_series(1, 4096)) AS cc(c)
  WHERE CAST(cc.c AS BIGINT) * cc.c >= least(nn.n, 16777216)
),
nrm AS (
  SELECT id, CAST(sum(q * q) AS BIGINT) AS n2 FROM pos GROUP BY id
),
seeds AS (
  SELECT id, CAST(row_number() OVER (
           ORDER BY md5(CAST(id AS STRING)), id) AS INT) - 1 AS cell
  FROM (SELECT DISTINCT id FROM pos) u
),
c0 AS (
  SELECT s.cell, p.i, p.q AS cv
  FROM seeds s JOIN pos p ON p.id = s.id
  CROSS JOIN cells WHERE s.cell < cells.nc
),
d1 AS (
  SELECT p.id, c.cell,
         CAST(sum((p.q - c.cv) * (p.q - c.cv)) AS BIGINT) AS d
  FROM pos p JOIN c0 c ON c.i = p.i GROUP BY p.id, c.cell
),
a1 AS (
  SELECT id, cell FROM (
    SELECT id, cell,
           row_number() OVER (PARTITION BY id ORDER BY d ASC, cell ASC)
             AS rn
    FROM d1) q1 WHERE rn = 1
),
c1 AS (
  SELECT a.cell, p.i,
         CAST(floor(CAST(sum(p.q) AS DOUBLE)
              / CAST(count(*) AS DOUBLE) + 5e-1) AS BIGINT) AS cv
  FROM a1 a JOIN pos p ON p.id = a.id GROUP BY a.cell, p.i
),
d2 AS (
  SELECT p.id, c.cell,
         CAST(sum((p.q - c.cv) * (p.q - c.cv)) AS BIGINT) AS d
  FROM pos p JOIN c1 c ON c.i = p.i GROUP BY p.id, c.cell
),
a2 AS (
  SELECT id, cell FROM (
    SELECT id, cell,
           row_number() OVER (PARTITION BY id ORDER BY d ASC, cell ASC)
             AS rn
    FROM d2) q2 WHERE rn = 1
),
c2 AS (
  SELECT a.cell, p.i,
         CAST(floor(CAST(sum(p.q) AS DOUBLE)
              / CAST(count(*) AS DOUBLE) + 5e-1) AS BIGINT) AS cv
  FROM a2 a JOIN pos p ON p.id = a.id GROUP BY a.cell, p.i
),
cn2 AS (
  SELECT cell, CAST(sum(cv * cv) AS BIGINT) AS n2 FROM c2 GROUP BY cell
),
qdot AS (
  SELECT p.id, c.cell, CAST(sum(p.q * c.cv) AS BIGINT) AS dt
  FROM pos p JOIN c2 c ON c.i = p.i
  WHERE p.id < 10 GROUP BY p.id, c.cell
),
probe AS (
  SELECT id AS query_id, cell FROM (
    SELECT q3.id, q3.cell,
           row_number() OVER (PARTITION BY q3.id ORDER BY
             CASE WHEN qn.n2 = 0 OR cn.n2 = 0 THEN 0e0
                  ELSE CAST(q3.dt AS DOUBLE)
                       / (sqrt(CAST(qn.n2 AS DOUBLE))
                          * sqrt(CAST(cn.n2 AS DOUBLE))) END DESC,
             q3.cell ASC) AS rn
    FROM qdot q3
    JOIN nrm qn ON qn.id = q3.id
    JOIN cn2 cn ON cn.cell = q3.cell) q4 WHERE rn <= {np_}
),
cand AS (
  SELECT DISTINCT pr.query_id, a.id AS vec_id
  FROM probe pr JOIN a2 a ON a.cell = pr.cell
  WHERE a.id <> pr.query_id
),
sdot AS (
  SELECT cd.query_id, cd.vec_id, CAST(sum(pq.q * pc.q) AS BIGINT) AS dt
  FROM cand cd
  JOIN pos pq ON pq.id = cd.query_id
  JOIN pos pc ON pc.id = cd.vec_id AND pc.i = pq.i
  GROUP BY cd.query_id, cd.vec_id
),
ranked AS (
  SELECT s.query_id, s.vec_id,
         CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0e0
              ELSE CAST(s.dt AS DOUBLE)
                   / (sqrt(CAST(na.n2 AS DOUBLE))
                      * sqrt(CAST(nb.n2 AS DOUBLE))) END AS cos_sim,
         row_number() OVER (PARTITION BY s.query_id ORDER BY
           CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0e0
                ELSE CAST(s.dt AS DOUBLE)
                     / (sqrt(CAST(na.n2 AS DOUBLE))
                        * sqrt(CAST(nb.n2 AS DOUBLE))) END DESC,
           s.vec_id ASC) AS rn
  FROM sdot s
  JOIN nrm na ON na.id = s.query_id
  JOIN nrm nb ON nb.id = s.vec_id
)
SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {k}
ORDER BY query_id, rn
"""


_IVF_POS_DUCK = """
  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(round(unnest(embedding::DOUBLE[]) * 1024) AS BIGINT) AS q
  FROM embeddings
"""
_IVF_POS_SPARK = """
  SELECT vec_id AS id, i,
         CAST(round(CAST(v AS DOUBLE) * 1024) AS BIGINT) AS q
  FROM embeddings LATERAL VIEW posexplode(embedding) tt AS i, v
"""

#: r14 session 6: the WIDE quantized frame for the mapInArrow Lloyd
#: rounds — same per-element round/CAST expression as _IVF_POS_SPARK.
_IVF_WIDE_SPARK = """
SELECT vec_id AS id,
       transform(embedding,
                 v -> CAST(round(CAST(v AS DOUBLE) * 1024) AS BIGINT)) AS qa
FROM embeddings
"""


@query("sim_ivf_topk", sql="WITH " + _ivf_sql(_IVF_POS_DUCK))
def sim_ivf_topk(spark, sf_dir):
    """IVF (FAISS-style coarse quantizer) top-5 for 10 query vectors:
    2 Lloyd rounds over the quantized corpus, each query probes its
    6 max-cosine cells, exact re-rank inside probed cells. FULL
    ORACLE since r12 via the deterministic program in the _ivf_sql
    block comment (md5 init + exact-int Lloyd + fixed-expression
    scoring); recall vs brute-force cosine is pinned in
    tests/test_llm_ops.py for this twin AND the float production
    operator (`operators/similarity.ivf_topk`, which keeps BLAS
    assignment and xxhash64 seeding for real corpora).

    r14 (VERDICT r13 #1): the cell count is DERIVED from the corpus
    count on both engines — integer ceil-sqrt clamped [16, 4096]
    (`adaptive_n_cells` here; the oracle's `cells` CTE recomputes
    the identical shift-free integer scan) — so candidate volume is
    ~nprobe·√N (sublinear) instead of the frozen 16's N·nprobe/16
    linear-fraction scan. And the Spark side executes the SAME
    program STEPWISE — r14 session 6 runs each Lloyd round as ONE
    ``mapInArrow`` pass over a WIDE quantized frame (one row per
    vector, values an ``array<bigint>``; operators/lloyd_exact,
    guide §4.2): distances via float64 BLAS (exact — every partial
    sum an integer < 2⁵³), per-task component partials, the oracle's
    floor-mean reduction — no join, no N·nc-group aggregate, no
    corpus SMJ per round (the r13/r14 pivoted SQL form,
    `pivot_lloyd_sql`, stays as the internals test's reference). The
    round-2 assignment (oracle's a2) and the round-2 book (c2) come
    from the SAME fused pass. Exact-int64 sums everywhere →
    bit-identical to the single-statement oracle text (pinned
    round-for-round in tests/test_lloyd_exact.py)."""
    from trendengine_spark.operators.lloyd_exact import (
        books_whole_from_partials,
        books_whole_rows,
        lloyd_books_whole,
        lloyd_codes_whole,
        local_rows_df,
        seed_books,
    )
    from trendengine_spark.operators.similarity import adaptive_n_cells

    np_, k = _IVF_NPROBE, _IVF_K
    wide = sql_over_tables(
        spark, sf_dir, _IVF_WIDE_SPARK, ("embeddings",)
    ).localCheckpoint()
    wide.createOrReplaceTempView("te_ivf_wide")
    n = sql_over_tables(
        spark, sf_dir, "SELECT count(*) AS n FROM embeddings",
        ("embeddings",),
    ).first()["n"]
    nc = adaptive_n_cells(n)
    cv0 = seed_books(spark, "te_ivf_wide", nc)
    # round 1: assignment vs c0 folded into the books pass
    cells, cv1 = books_whole_from_partials(
        lloyd_books_whole(wide, list(range(cv0.shape[0])), cv0)
    )
    # round 2: the final assignment (oracle's a2, reused by the
    # candidate join) and the round-2 book (oracle's c2, probe
    # scoring only) both come from ONE fused corpus pass
    fused = lloyd_codes_whole(wide, cells, cv1)
    fused = fused.localCheckpoint()
    fused.where("i = -1").select("id", "cell").createOrReplaceTempView(
        "te_ivf_a2"
    )
    b2c, b2cv = books_whole_from_partials(
        fused.where("id IS NULL").select("cell", "i", "s", "c")
    )
    local_rows_df(
        spark, books_whole_rows(b2c, b2cv), "cell int, i int, cv bigint"
    ).createOrReplaceTempView("te_ivf_b2")
    spark.sql(
        "SELECT id, pos AS i, q "
        "FROM te_ivf_wide LATERAL VIEW posexplode(qa) t AS pos, q"
    ).createOrReplaceTempView("te_ivf_pos")
    return spark.sql(f"""
WITH nrm AS (
  SELECT id, CAST(sum(q * q) AS BIGINT) AS n2 FROM te_ivf_pos GROUP BY id
),
cn2 AS (
  SELECT cell, CAST(sum(cv * cv) AS BIGINT) AS n2 FROM te_ivf_b2
  GROUP BY cell
),
qdot AS (
  SELECT p.id, c.cell, CAST(sum(p.q * c.cv) AS BIGINT) AS dt
  FROM te_ivf_pos p JOIN te_ivf_b2 c ON c.i = p.i
  WHERE p.id < 10 GROUP BY p.id, c.cell
),
probe AS (
  SELECT id AS query_id, cell FROM (
    SELECT q3.id, q3.cell,
           row_number() OVER (PARTITION BY q3.id ORDER BY
             CASE WHEN qn.n2 = 0 OR cn.n2 = 0 THEN 0e0
                  ELSE CAST(q3.dt AS DOUBLE)
                       / (sqrt(CAST(qn.n2 AS DOUBLE))
                          * sqrt(CAST(cn.n2 AS DOUBLE))) END DESC,
             q3.cell ASC) AS rn
    FROM qdot q3
    JOIN nrm qn ON qn.id = q3.id
    JOIN cn2 cn ON cn.cell = q3.cell) q4 WHERE rn <= {np_}
),
cand AS (
  SELECT DISTINCT pr.query_id, a.id AS vec_id
  FROM probe pr JOIN te_ivf_a2 a ON a.cell = pr.cell
  WHERE a.id <> pr.query_id
),
sdot AS (
  SELECT cd.query_id, cd.vec_id, CAST(sum(pq.q * pc.q) AS BIGINT) AS dt
  FROM cand cd
  JOIN te_ivf_pos pq ON pq.id = cd.query_id
  JOIN te_ivf_pos pc ON pc.id = cd.vec_id AND pc.i = pq.i
  GROUP BY cd.query_id, cd.vec_id
),
ranked AS (
  SELECT s.query_id, s.vec_id,
         CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0e0
              ELSE CAST(s.dt AS DOUBLE)
                   / (sqrt(CAST(na.n2 AS DOUBLE))
                      * sqrt(CAST(nb.n2 AS DOUBLE))) END AS cos_sim,
         row_number() OVER (PARTITION BY s.query_id ORDER BY
           CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0e0
                ELSE CAST(s.dt AS DOUBLE)
                     / (sqrt(CAST(na.n2 AS DOUBLE))
                        * sqrt(CAST(nb.n2 AS DOUBLE))) END DESC,
           s.vec_id ASC) AS rn
  FROM sdot s
  JOIN nrm na ON na.id = s.query_id
  JOIN nrm nb ON nb.id = s.vec_id
)
SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {k}
ORDER BY query_id, rn
""")


@query(
    "sim_embedding_near_dup",
    sql="""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    par AS (
      SELECT CAST(least(24, greatest(8, min(pp.p))) AS INT) AS ppb
      FROM nn, unnest(generate_series(1, 40)) AS pp(p)
      WHERE (CAST(1 AS BIGINT) << pp.p) >= nn.n
    ),
    signs AS (
      SELECT p, i,
             CASE WHEN (CAST(concat('0x',
                    substr(md5('hp:' || p || ':' || i), 1, 15)) AS BIGINT)
                    & 1) = 1 THEN 1 ELSE -1 END AS s
      FROM par, unnest(generate_series(0, 6 * par.ppb - 1)) AS pp(p),
           unnest(generate_series(0, 63)) AS ii(i)
    ),
    qv AS (
      SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(round(unnest(embedding::DOUBLE[]) * 1024) AS BIGINT) AS q
      FROM embeddings
    ),
    dots AS (
      SELECT qv.id, signs.p, sum(signs.s * qv.q) AS d
      FROM qv JOIN signs ON signs.i = qv.i
      GROUP BY qv.id, signs.p
    ),
    sigs AS (
      SELECT id, CAST(p // par.ppb AS INT) AS band,
             CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % par.ppb))
                           ELSE 0 END) AS BIGINT) AS sig
      FROM dots, par GROUP BY id, p // par.ppb
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
      WHERE a.id < b.id
    ),
    qe AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> round(x * 1024)) AS q
      FROM embeddings
    ),
    scored AS (
      SELECT id_a, id_b,
             list_dot_product(ea.q, eb.q) /
               (sqrt(list_dot_product(ea.q, ea.q)) *
                sqrt(list_dot_product(eb.q, eb.q))) AS c
      FROM cand JOIN qe ea ON ea.vec_id = cand.id_a
                JOIN qe eb ON eb.vec_id = cand.id_b
    ),
    thr AS (
      SELECT least(
               (SELECT quantile_disc(c, 0.999) FROM scored),
               (SELECT min(c) FROM
                 (SELECT c FROM scored ORDER BY c DESC LIMIT 10))
             ) AS t
    )
    SELECT id_a, id_b, round(c, 4) AS cos_sim
    FROM scored, thr WHERE c >= t
    """,
)
def sim_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via banded hyperplane
    self-bucketing with an adaptive cut: 99.9th percentile of
    observed candidate similarities, floored to keep at least
    min_pairs=10 survivors — non-vacuous at every sf by construction
    (the synthetic corpus has no cos ≥ 0.9 pairs; a fixed threshold
    there returns 0 rows and proves nothing). No all-pairs join.

    r13 (VERDICT r12 #1): band width is DERIVED from the corpus
    count on BOTH engines — smallest p with 2^p ≥ n clamped to
    [8, 24], an integer shift-compare (no float log2 edge) — so
    expected candidate volume stays ~linear in n at every scale
    instead of the fixed-p ~n²/2^p cliff that OOM'd the 200k-vector
    sf10 sweep. The oracle's `par` CTE transcribes the derivation.

    ORACLE-BACKED since r10 (was rows-only), composing this round's
    two portability contracts: md5-seeded ±1 planes over integer-
    quantized vectors make the candidate PAIR SET engine-identical
    (the sim_ann_hyperplane trick, extended to self-bucketing), and
    the adaptive percentile runs at GK accuracy derived from the
    candidate count — lossless at any checked scale, where Spark's
    ⌈q·n⌉ rank rule equals DuckDB's quantile_disc exactly (the
    approx_percentiles identity). r11 (sf1 sweep finding): the
    VERIFY cosine also scores the quantized integers — exact int64
    dots are summation-order-independent, so the similarity VALUES,
    the cut, and the kept set are bit-identical cross-engine even on
    the ulp plateau of ~20k near-identical replicated pairs where
    numpy-vs-sequential float dots moved 675 rows. Gaussian planes +
    full-precision cosine remain the operator default family."""
    return embedding_near_dup_pairs(
        t(spark, sf_dir, "embeddings"), threshold=None, dim=64,
        quantile=0.999, family="md5",
    )


@query(
    "sim_label_centroid_dist",
    sql="""
    WITH pos AS (
      SELECT label, generate_subscripts(embedding, 1) AS i,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings
    ), m AS (
      SELECT label, i, avg(v) AS mv FROM pos GROUP BY label, i
    ), c AS (
      SELECT label, list(mv ORDER BY i) AS centroid FROM m GROUP BY label
    )
    SELECT e.label, e.vec_id,
           round(list_dot_product(e.embedding::DOUBLE[], c.centroid) /
                 (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(c.centroid, c.centroid))), 4) AS cos_to_centroid
    FROM embeddings e JOIN c USING (label)
    """,
)
def sim_label_centroid_dist(spark, sf_dir):
    """Per-label centroid + per-vector cosine to its centroid (the
    outlier-scoring primitive): centroid via posexplode + group-avg,
    re-join broadcast."""
    emb = t(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.avg("v").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("_sm"))
        .select("label", F.expr("transform(_sm, s -> s.m)").alias("centroid"))
    )
    from trendengine_spark.operators.similarity import cosine

    j = emb.join(F.broadcast(cent), "label")
    return j.select(
        "label", "vec_id",
        F.round(cosine(F.col("embedding"), F.col("centroid")), 4).alias("cos_to_centroid"),
    )


# --------------------------------------------------------------- multimodal
@query(
    "multimodal_content_stats",
    sql="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS sha256_hex,
           CAST((doc_id % 64) * 16 + 64 AS INT) AS width,
           CAST((doc_id % 48) * 16 + 64 AS INT) AS height
    FROM documents
    """,
)
def multimodal_content_stats(spark, sf_dir):
    """Binary-column metadata path: byte length + sha256 content hash
    (the media dedup key) + typed metadata projection."""
    media = attach_fake_media(t(spark, sf_dir, "documents"))
    return media_content_stats(media)


@query(
    "multimodal_feature_extract",
    sql="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(64 + (octet_length(encode(text)) % 512) AS INT) AS width,
           CAST(64 + ((octet_length(encode(text)) * 7 + ascii(substr(text, 1, 1))) % 512) AS INT) AS height,
           ((ascii(substr(text, 1, 1)) + ascii(substr(text, length(text), 1))) % 256) / 255.0 AS mean_luma
    FROM documents
    """,
)
def multimodal_feature_extract(spark, sf_dir):
    """Per-row Arrow-map feature extraction over the media column
    (decode stubbed with the deterministic fake — real plumbing, Arrow
    batch round trip, no shuffle)."""
    media = attach_fake_media(t(spark, sf_dir, "documents"))
    return extract_media_features(media, fake=True)


@query(
    "multimodal_png_decode",
    sql="""
    SELECT doc_id,
           CAST(4 + doc_id % 13 AS INT) AS width,
           CAST(4 + doc_id % 11 AS INT) AS height,
           CAST(doc_id % 256 AS DOUBLE) / 255.0 AS mean_luma
    FROM documents
    """,
)
def multimodal_png_decode(spark, sf_dir):
    """REAL image decode, oracle-checked end-to-end: a valid grayscale
    PNG is generated per document executor-side (constant fill, dims
    keyed off doc_id), then decoded by the pure-stdlib PNG decoder
    (zlib inflate + spec filter reconstruction) in a per-row Arrow map —
    no imaging library, no fake path. Constant-fill grayscale makes
    the decoded mean luma exactly (doc_id % 256)/255 (integer sums are
    exact in both engines), so the full encode→Spark→decode round trip
    hash-matches the DuckDB oracle."""
    from trendengine_spark.operators.multimodal import attach_png_media

    media = attach_png_media(t(spark, sf_dir, "documents"))
    feats = extract_media_features(media, fake=False)
    return feats.select("doc_id", "width", "height", "mean_luma")


@query(
    "multimodal_jpeg_decode",
    sql="""
    SELECT doc_id,
           CAST(8 + doc_id % 13 AS INT) AS width,
           CAST(8 + doc_id % 11 AS INT) AS height,
           CAST(doc_id % 256 AS DOUBLE) / 255.0 AS mean_luma
    FROM documents
    """,
)
def multimodal_jpeg_decode(spark, sf_dir):
    """REAL baseline-JPEG decode, oracle-checked end-to-end: a valid
    sequential-DCT JPEG is generated per document executor-side
    (constant fill, dims keyed off doc_id, DC quant step 8) and
    decoded by the numpy baseline decoder (canonical Huffman → 
    dequantize → IDCT) in a per-row Arrow map — no imaging library, no
    fake path. Constant fill makes every AC coefficient zero and the
    DC round-trip exact (8·(g−128) is a multiple of the quant step),
    so decoded mean luma is exactly (doc_id % 256)/255 and the full
    encode→Spark→decode round trip hash-matches the DuckDB oracle."""
    from trendengine_spark.operators.multimodal import attach_jpeg_media

    media = attach_jpeg_media(t(spark, sf_dir, "documents"))
    feats = extract_media_features(media, fake=False)
    return feats.select("doc_id", "width", "height", "mean_luma")


@query(
    "multimodal_wav_features",
    sql="""
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(160 + doc_id % 80 AS BIGINT) AS n_samples,
           (160 + doc_id % 80) * 1000 // 8000 AS duration_ms,
           CAST(100 + doc_id % 900 AS INT) AS peak,
           CAST(100 + doc_id % 900 AS DOUBLE) AS rms
    FROM documents
    """,
)
def multimodal_wav_features(spark, sf_dir):
    """REAL audio decode, oracle-checked end-to-end: a valid PCM WAV
    square wave is generated per document executor-side and decoded by
    stdlib ``wave`` in a per-row Arrow map. A square wave of amplitude A
    has peak = RMS = A exactly (A² is an exact float, the mean of N
    identical exact values divides exactly, and sqrt of a perfect
    square is correctly rounded), so peak/RMS/duration all hash-match
    integer-arithmetic DuckDB oracle columns."""
    from trendengine_spark.operators.multimodal import (
        attach_wav_media,
        extract_audio_features,
    )

    media = attach_wav_media(t(spark, sf_dir, "documents"))
    return extract_audio_features(media)


@query(
    "multimodal_resize",
    sql="""
    WITH m AS (
        SELECT doc_id,
               CAST((doc_id % 64) * 16 + 64 AS BIGINT) AS w,
               CAST((doc_id % 48) * 16 + 64 AS BIGINT) AS h,
               CAST(octet_length(encode(text)) AS BIGINT) AS nb
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(CASE WHEN greatest(w, h) > 256
                     THEN greatest(1, (w * 256) // greatest(w, h))
                     ELSE w END AS INT) AS out_width,
           CAST(CASE WHEN greatest(w, h) > 256
                     THEN greatest(1, (h * 256) // greatest(w, h))
                     ELSE h END AS INT) AS out_height,
           nb AS n_bytes
    FROM m
    """,
)
def multimodal_resize(spark, sf_dir):
    """Aspect-preserving resize plumbing (per-row Arrow map,
    partition-local): target geometry is computed for real; the pixel
    resample itself is the stubbed step. Payload bytes projected down
    to a length so the oracle hash stays engine-portable."""
    media = attach_fake_media(t(spark, sf_dir, "documents"))
    out = resize_images(media, max_side=256, fake=True)
    return out.select(
        "doc_id", "width", "height", "out_width", "out_height",
        F.octet_length("media").cast("bigint").alias("n_bytes"),
    )


@query(
    "multimodal_frame_sample",
    sql="""
    WITH fr AS (
        SELECT doc_id, UNNEST(range(0, (doc_id % 4) + 2)) AS i
        FROM documents
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           i * 1000 AS ts_ms,
           CAST((doc_id * 31 + i * 17) % 256 AS INT) AS gray
    FROM fr
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """REAL video decode path (r6): each document carries a valid
    MJPEG-in-AVI container (RIFF hdrl/movi/idx1, frames are baseline
    JPEGs) built by ``attach_mjpeg_video``; ``sample_frames``
    chunk-walks the container for real and ``decode_frame_stats``
    entropy-decodes every sampled frame. The constant-fill frames
    decode EXACTLY, so the decoded mean gray level is pure integer
    arithmetic the DuckDB oracle reproduces — a wrong container walk,
    frame index, or Huffman/IDCT decode all break the hash. Payloads
    stay partition-local (per-row Arrow maps); no shuffle."""
    from trendengine_spark.operators.multimodal import (
        attach_mjpeg_video,
        decode_frame_stats,
    )

    media = attach_mjpeg_video(t(spark, sf_dir, "documents"))
    frames = sample_frames(media, step_ms=1000, fake=False)
    return decode_frame_stats(frames).select(
        "doc_id", "frame_idx", "ts_ms", "gray"
    )


# ------------------------------------------------------- pipeline assembly
@query(
    "pipeline_stratified_sample",
    sql="""
    SELECT doc_id, lang,
           CAST(CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 30
                          WHEN 'de' THEN 20 ELSE 10 END AS INT) AS _stratum_rate
    FROM documents
    WHERE doc_id % 100 < CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 30
                                   WHEN 'de' THEN 20 ELSE 10 END
    """,
)
def pipeline_stratified_sample(spark, sf_dir):
    """Deterministic data-mixture sampling: each language keeps a
    configured fraction (en 50%, zh 30%, de 20%, rest 10%) selected by
    ``doc_id % 100`` — a pure function of the row, so the mixture is
    reproducible bit-for-bit across runs and engines (no RNG state).
    One filter, no shuffle."""
    from trendengine_spark.operators.pipeline import stratified_sample

    out = stratified_sample(
        t(spark, sf_dir, "documents"), rates={"en": 50, "zh": 30, "de": 20}
    )
    return out.select("doc_id", "lang", "_stratum_rate")


@query(
    "pipeline_pack_sequences",
    sql="""
    WITH toks AS (
      SELECT doc_id,
             doc_id % 8 AS shard,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS end_off
      FROM toks
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           n_tokens,
           CAST(end_off - n_tokens AS BIGINT) AS start_off,
           CAST(floor((end_off - n_tokens) / 512.0) AS BIGINT) AS start_seq,
           CASE WHEN n_tokens > 0
                THEN CAST(floor((end_off - 1) / 512.0) AS BIGINT)
                ELSE CAST(floor((end_off - n_tokens) / 512.0) AS BIGINT)
           END AS end_seq
    FROM packed
    """,
)
def pipeline_pack_sequences(spark, sf_dir):
    """GPT-style concat-then-chunk sequence packing: per shard
    (doc_id % 8) documents are laid out in id order into one token
    stream cut every 512 tokens; each document reports its stream
    offset and the [start_seq, end_seq] span it occupies (documents
    straddle cut points by design — that IS concat-and-chunk training
    prep). One window cumsum per shard, all integer arithmetic."""
    from trendengine_spark.operators.pipeline import pack_concat_chunks

    return pack_concat_chunks(
        t(spark, sf_dir, "documents"), seq_len=512, n_shards=8
    )


@query(
    "dedup_corpus_survivors",
    sql=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id AS id, array_to_string(ts[i:i+2], ' ') AS shingle
      FROM tok, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS u(i)
      WHERE len(ts) >= 3
    ), sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
    ), clusters AS (
      SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    )
    SELECT d.doc_id, d.lang
    FROM documents d
    LEFT JOIN clusters c ON c.id = d.doc_id AND c.id <> c.cluster_id
    WHERE c.id IS NULL
    """,
)
def dedup_corpus_survivors(spark, sf_dir):
    """The dedup pipeline's actual OUTPUT: the corpus with non-
    representative near-duplicates removed. Exact n-gram Jaccard pairs
    → connected components → drop every document that is not its
    cluster's representative (min id); untouched documents survive
    unchanged. Spark: one left-anti join of the corpus against the
    non-representative cluster members — planned as a shuffle anti
    join by default (the scale-correct choice: a crawl corpus's
    duplicate fraction can be far too large to broadcast; with AQE on,
    small build sides convert to broadcast at runtime); oracle: the
    same via the recursive-CTE closure."""
    docs = t(spark, sf_dir, "documents")
    non_reps = jaccard_cluster_labels(spark, sf_dir).filter(
        F.col("id") != F.col("cluster_id")
    ).select(F.col("id").alias("doc_id"))
    return docs.join(non_reps, "doc_id", "left_anti").select("doc_id", "lang")


@query(
    "sim_embedding_l2norm",
    sql="""
    WITH norm AS (
      SELECT vec_id,
             CASE WHEN sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) = 0
                  THEN list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6))
                  ELSE list_transform(embedding,
                       x -> round(CAST(x AS DOUBLE) /
                            sqrt(list_sum(list_transform(embedding,
                                 y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6))
             END AS unit_vec
      FROM embeddings
    )
    SELECT vec_id, CAST(i AS INT) AS pos, unit_vec[i] AS val
    FROM norm, unnest(generate_series(1, len(unit_vec))) AS u(i)
    """,
)
def sim_embedding_l2norm(spark, sf_dir):
    """Unit-L2 normalization of the embedding column — the storage-side
    prep that turns cosine search into plain dot products. Strictly
    sequential double-precision sum per row, so the output is
    bit-reproducible and hash-matches the DuckDB oracle (components
    rounded to 6 dp on both sides for stable comparison). Output is
    exploded to one (vec_id, pos, val) scalar row per component —
    oracle-checked results must not carry array columns. Projection +
    generator, no shuffle."""
    from trendengine_spark.operators.similarity import l2_normalize

    emb = t(spark, sf_dir, "embeddings")
    unit = F.transform(l2_normalize(F.col("embedding")), lambda x: F.round(x, 6))
    return emb.select(
        "vec_id", F.posexplode(unit).alias("pos", "val")
    ).select("vec_id", (F.col("pos") + 1).cast("int").alias("pos"), "val")


@query(
    "sim_embedding_quantize_int8",
    sql="""
    WITH m AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
             embedding
      FROM embeddings
    ), q AS (
      SELECT vec_id,
             CASE WHEN maxabs = 0
                  THEN list_transform(embedding, x -> CAST(0 AS INT))
                  ELSE list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) / maxabs * 127.0) AS INT))
             END AS codes,
             round(maxabs / 127.0, 9) AS scale
      FROM m
    )
    SELECT vec_id, CAST(i AS INT) AS pos, codes[i] AS code, scale
    FROM q, unnest(generate_series(1, len(codes))) AS u(i)
    """,
)
def sim_embedding_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding column
    (4× storage cut for ANN indexes; scale kept for dequantization).
    Max-abs is order-independent and each element quantizes alone, so
    codes are exactly reproducible and hash-match the DuckDB oracle.
    Output is exploded to one (vec_id, pos, code, scale) scalar row per
    component — oracle-checked results must not carry array columns.
    Projection + generator, no shuffle."""
    from trendengine_spark.operators.similarity import quantize_int8

    emb = t(spark, sf_dir, "embeddings")
    codes, scale = quantize_int8(F.col("embedding"))
    return (
        emb.select(
            "vec_id",
            F.posexplode(codes).alias("pos", "code"),
            F.round(scale, 9).alias("scale"),
        )
        .select(
            "vec_id", (F.col("pos") + 1).cast("int").alias("pos"), "code", "scale"
        )
    )


@query(
    "text_chunk_windows",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
    )
    SELECT doc_id,
           CAST((i - 1) / 32 AS INT) AS chunk_idx,
           array_to_string(ts[i:i+63], ' ') AS chunk_text,
           CAST(least(64, len(ts) - i + 1) AS INT) AS n_tokens
    FROM tok, unnest(generate_series(1, greatest(len(ts), 1), 32)) AS u(i)
    WHERE len(ts) > 0 AND i <= len(ts)
    """,
)
def text_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking (64-token windows, stride 32)
    — the RAG/pretraining segmentation step. One projection +
    posexplode per document; chunk boundaries are pure integer
    arithmetic over the token array, so chunk text and counts
    hash-match the DuckDB oracle. No shuffle."""
    from trendengine_spark.operators.text import tokens_col

    docs = t(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(32))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / 32).cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, s + 1, 64)).alias("chunk_text"),
            F.least(F.lit(64), F.size(toks) - s).cast("int").alias("n_tokens"),
        ),
    )
    return (
        docs.where(F.size(toks) > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens")
    )


@query(
    "profile_key_skew",
    sql="""
    WITH counts AS (
      SELECT l_orderkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1
    ), agg AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
             max(cnt) AS max_per_key,
             round(sum(cnt) / CAST(count(*) AS DOUBLE), 6) AS mean_per_key,
             round(max(cnt) / (sum(cnt) / CAST(count(*) AS DOUBLE)), 6) AS skew_ratio
      FROM counts
    ), hot AS (
      SELECT array_to_string(
               list(CAST(k AS VARCHAR) || ':' || CAST(cnt AS VARCHAR)
                    ORDER BY cnt DESC, k ASC)[1:5], ',') AS hot_keys
      FROM counts
    )
    SELECT n_rows, n_keys, max_per_key, mean_per_key, skew_ratio, hot_keys
    FROM agg, hot
    """,
)
def profile_key_skew(spark, sf_dir):
    """Join-key skew diagnosis (the measurement that motivates
    salted_join / AQE skew split): total rows, distinct keys, max and
    mean per-key counts, the straggler multiplier (max/mean), and the
    5 hottest keys. One groupBy on the key + a key-cardinality-bounded
    roll-up."""
    from trendengine_spark.operators.profile import key_skew_profile

    return key_skew_profile(t(spark, sf_dir, "lineitem"), "l_orderkey", top_k=5)


@query(
    "profile_table_nulls",
    sql="""
    WITH one AS (
      SELECT count(*) AS n,
             count(*) FILTER (WHERE doc_id IS NULL) AS n0,
             count(*) FILTER (WHERE text IS NULL) AS n1,
             count(*) FILTER (WHERE lang IS NULL) AS n2,
             count(*) FILTER (WHERE source IS NULL) AS n3,
             count(*) FILTER (WHERE n_chars IS NULL) AS n4
      FROM documents
    )
    SELECT u.column_name, one.n AS n_rows, u.n_null,
           round(u.n_null / CAST(one.n AS DOUBLE), 6) AS null_frac
    FROM one, LATERAL (
      VALUES ('doc_id', n0), ('text', n1), ('lang', n2),
             ('source', n3), ('n_chars', n4)
    ) AS u(column_name, n_null)
    """,
)
def profile_table_nulls(spark, sf_dir):
    """Per-column completeness profile of the documents table: one
    full-scan aggregate (map-side combined), stacked to long form —
    the data-quality gate a training pipeline runs before anything
    else."""
    from trendengine_spark.operators.profile import null_profile

    return null_profile(t(spark, sf_dir, "documents"))


@query(
    "profile_numeric_histogram",
    sql="""
    SELECT CAST(bucket AS INT) AS bucket,
           0.0 + (bucket - 1) * 30000.0 AS lo_edge,
           0.0 + bucket * 30000.0 AS hi_edge,
           count(*) AS n_rows
    FROM (SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                      WHEN o_totalprice >= 600000.0 THEN 21
                      ELSE CAST(floor((o_totalprice - 0.0) / 30000.0) AS INT) + 1
                 END AS bucket
          FROM orders)
    GROUP BY bucket
    """,
)
def profile_numeric_histogram(spark, sf_dir):
    """Equi-width value histogram (``operators/profile.py:
    numeric_histogram``): one width_bucket scan + one ≤22-row
    aggregate; under/overflow buckets keep total mass accountable.
    The bucket id is explicit width_bucket arithmetic spelled out in
    IEEE double ops on both engines (DuckDB lacks the builtin), so
    the result hash-matches."""
    from trendengine_spark.operators.profile import numeric_histogram

    return numeric_histogram(
        t(spark, sf_dir, "orders"), "o_totalprice", 0.0, 600000.0, 20
    )


@query(
    "pipeline_decontaminate_ngrams",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, array_to_string(ts[i:i+7], ' ') AS gram
      FROM tok, unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS u(i)
      WHERE len(ts) >= 8
    ),
    test_g  AS (SELECT id, gram FROM sh WHERE id % 10 = 0),
    train_g AS (SELECT DISTINCT gram FROM sh WHERE id % 10 <> 0),
    sizes AS (SELECT id, count(*) AS n_grams FROM test_g GROUP BY 1),
    hits AS (
      SELECT id, count(*) AS n_hit
      FROM test_g WHERE gram IN (SELECT gram FROM train_g)
      GROUP BY 1
    )
    SELECT sizes.id AS test_id, n_grams,
           coalesce(n_hit, 0) AS n_hit,
           round(coalesce(n_hit, 0) / CAST(n_grams AS DOUBLE), 6) AS contam_frac
    FROM sizes LEFT JOIN hits ON hits.id = sizes.id
    """,
)
def pipeline_decontaminate_ngrams(spark, sf_dir):
    """Train/test decontamination by token 8-gram overlap (the
    published GPT-3/PaLM recipe, sized down to this corpus's 10-99
    token docs): the held-out split (doc_id % 10 = 0) is flagged by
    the fraction of its distinct 8-grams that appear anywhere in the
    train split. Plan shape at scale: the train side collapses to a
    DISTINCT gram set (shuffle keyed by gram, map-side combined),
    the test side left-semi-joins it — candidate volume is the gram
    vocabulary, never test × train. Reuses the dedup shingle operator
    (``operators/dedup.shingles``) for both splits."""
    from trendengine_spark.operators.dedup import shingles

    docs = t(spark, sf_dir, "documents")
    test = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    tg = shingles(test, n=8)
    trg = shingles(train, n=8).select("shingle").distinct()
    sizes = tg.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        tg.join(trg, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        sizes.join(hits, "id", "left")
        .select(
            F.col("id").alias("test_id"),
            "n_grams",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_grams").cast("double"), 6
            ).alias("contam_frac"),
        )
    )


# ------------------------------------------------------------------
# sim_pq_topk — FULL ORACLE since r12 (was rows-only under "learned
# codebooks"). Product quantization (Jégou 2011) transcribes with the
# same rulebook as the IVF twin, generalized per subspace:
# unit-quantization q = round(qr·1024/√Σqr²) over the exact
# pre-quantized integers (a cross-row float norm would be
# summation-order-dependent; the integer norm is exact), md5-ranked
# seeds, THREE Lloyd rounds per 2-d subspace on exact int64 squared
# distances with floor(x+0.5)-requantized means, codes as a final
# assignment against the trained books, ADC = exact-integer
# query-block·centroid tables summed per code, and a quantized-cosine
# rerank of the 4k candidate pool. One shared template (dialect:
# position explode, integer division, DuckDB MATERIALIZED on the
# chained books — the BPE inlining lesson).
_PQ_SUBS = 32
_PQ_CELLS = 32
_PQ_K = 5


def _pq_upos_sql(pos_body: str, div: str) -> str:
    """The shared unit-quantized position head — split out so the
    SPARK side can materialize it ONCE (localCheckpoint + temp view):
    the sf10 sweep found the un-materialized chain re-deriving this
    12.8M-row frame in ~a dozen join subtrees, whose accumulated AQE
    stage materializations OOM'd the 8g JVM (BASELINE r12 appendix).
    DuckDB keeps it inline (its MATERIALIZED CTEs already bound it)."""
    return f"""
pos AS ({pos_body}),
nrm0 AS (
  SELECT id, CAST(sum(qr * qr) AS BIGINT) AS n2 FROM pos GROUP BY id
),
upos AS (
  SELECT p.id, CAST(p.i{div}2 AS INT) AS sub, p.i,
         CAST(round(CAST(p.qr AS DOUBLE) * 1024e0
              / sqrt(CAST(n.n2 AS DOUBLE))) AS BIGINT) AS q
  FROM pos p JOIN nrm0 n ON n.id = p.id WHERE n.n2 > 0
)"""


def _pq_sql(pos_body: str, div: str, mat: str, upos_src: str | None = None) -> str:
    c, k = _PQ_CELLS, _PQ_K
    head = (
        f"upos AS (SELECT * FROM {upos_src})"
        if upos_src
        else _pq_upos_sql(pos_body, div).strip()
    )
    parts = [
        f"""
{head},
nn AS (SELECT count(*) AS n FROM embeddings),
cells AS (
  SELECT CAST(least(4096, greatest(16, min(cc.c))) AS INT) AS nc
  FROM nn, unnest(generate_series(1, 4096)) AS cc(c)
  WHERE CAST(cc.c AS BIGINT) * cc.c >= least(nn.n, 16777216)
),
nrm AS (
  SELECT id, CAST(sum(q * q) AS BIGINT) AS n2 FROM upos GROUP BY id
),
seeds AS (
  SELECT id, CAST(row_number() OVER (
           ORDER BY md5(CAST(id AS STRING)), id) AS INT) - 1 AS cell
  FROM (SELECT DISTINCT id FROM upos) u
),
b0 AS {mat}(
  SELECT s.cell, p.sub, p.i, p.q AS cv
  FROM seeds s JOIN upos p ON p.id = s.id WHERE s.cell < {c}
)"""
    ]
    for r in range(1, 4):
        parts.append(f""",
e{r} AS (
  SELECT p.id, p.sub, c.cell,
         CAST(sum((p.q - c.cv) * (p.q - c.cv)) AS BIGINT) AS d
  FROM upos p JOIN b{r - 1} c ON c.sub = p.sub AND c.i = p.i
  GROUP BY p.id, p.sub, c.cell
),
a{r} AS (
  SELECT id, sub, cell FROM (
    SELECT id, sub, cell, row_number() OVER (
      PARTITION BY id, sub ORDER BY d ASC, cell ASC) AS rn
    FROM e{r}) q{r} WHERE rn = 1
),
b{r} AS {mat}(
  SELECT a.cell, p.sub, p.i,
         CAST(floor(CAST(sum(p.q) AS DOUBLE)
              / CAST(count(*) AS DOUBLE) + 5e-1) AS BIGINT) AS cv
  FROM a{r} a JOIN upos p ON p.id = a.id AND p.sub = a.sub
  GROUP BY a.cell, p.sub, p.i
)""")
    parts.append(f""",
e4 AS (
  SELECT p.id, p.sub, c.cell,
         CAST(sum((p.q - c.cv) * (p.q - c.cv)) AS BIGINT) AS d
  FROM upos p JOIN b3 c ON c.sub = p.sub AND c.i = p.i
  GROUP BY p.id, p.sub, c.cell
),
codes AS {mat}(
  SELECT id, sub, cell FROM (
    SELECT id, sub, cell, row_number() OVER (
      PARTITION BY id, sub ORDER BY d ASC, cell ASC) AS rn
    FROM e4) q4 WHERE rn = 1
),
qdt AS (
  SELECT p.id AS query_id, p.sub, c.cell,
         CAST(sum(p.q * c.cv) AS BIGINT) AS dt
  FROM upos p JOIN b3 c ON c.sub = p.sub AND c.i = p.i
  WHERE p.id < 10 GROUP BY p.id, p.sub, c.cell
),
adc AS (
  SELECT q5.query_id, cd.id AS vec_id, CAST(sum(q5.dt) AS BIGINT) AS score
  FROM codes cd JOIN qdt q5 ON q5.sub = cd.sub AND q5.cell = cd.cell
  WHERE cd.id <> q5.query_id
  GROUP BY q5.query_id, cd.id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
    FROM adc) q6 CROSS JOIN cells
  WHERE rn <= greatest({4 * k}, cells.nc)
),
sdot AS (
  SELECT cd.query_id, cd.vec_id, CAST(sum(pq.q * pc.q) AS BIGINT) AS dt
  FROM cand cd
  JOIN upos pq ON pq.id = cd.query_id
  JOIN upos pc ON pc.id = cd.vec_id AND pc.i = pq.i
  GROUP BY cd.query_id, cd.vec_id
),
ranked AS (
  SELECT s.query_id, s.vec_id,
         CAST(s.dt AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
              * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_sim,
         row_number() OVER (PARTITION BY s.query_id ORDER BY
           CAST(s.dt AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                * sqrt(CAST(nb.n2 AS DOUBLE))) DESC,
           s.vec_id ASC) AS rn
  FROM sdot s
  JOIN nrm na ON na.id = s.query_id
  JOIN nrm nb ON nb.id = s.vec_id
)
SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {k}
ORDER BY query_id, rn
""")
    return "".join(parts)


_PQ_POS_DUCK = """
  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(round(unnest(embedding::DOUBLE[]) * 1024) AS BIGINT) AS qr
  FROM embeddings
"""
_PQ_POS_SPARK = """
  SELECT vec_id AS id, i,
         CAST(round(CAST(v AS DOUBLE) * 1024) AS BIGINT) AS qr
  FROM embeddings LATERAL VIEW posexplode(embedding) tt AS i, v
"""

#: r14 session 6: the WIDE unit-quantized frame (one row per vector,
#: values as array<bigint>) the mapInArrow Lloyd rounds consume. Same
#: Catalyst expressions per element as the _pq_upos_sql explode path
#: (round/CAST per value; n2 an exact int64 fold, order-free), so q is
#: bit-identical — pinned in tests/test_lloyd_exact.py.
_PQ_WIDE_SPARK = """
SELECT id, transform(qra, x -> CAST(round(CAST(x AS DOUBLE) * 1024e0
       / sqrt(CAST(n2 AS DOUBLE))) AS BIGINT)) AS qa
FROM (
  SELECT id, qra,
         aggregate(qra, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) AS n2
  FROM (
    SELECT vec_id AS id,
           transform(embedding,
                     v -> CAST(round(CAST(v AS DOUBLE) * 1024) AS BIGINT))
             AS qra
    FROM embeddings
  )
)
WHERE n2 > 0
"""


def pivot_lloyd_sql(
    pos: str,
    prev: str,
    c: int,
    emit: str,
    subspaced: bool = True,
    val: str = "q",
    cell_col: str = "cell",
) -> str:
    """One Lloyd round of a quantizer twin in the PIVOTED form the
    Spark side executes at scale (r13): the original
    per-(id[, sub], cell) distance CTE materializes N·subs·cells
    grouped rows (204.8M at the 200k-vector point — the r12 sf10 OOM
    class even after the upos localCheckpoint), where the pivoted
    form joins each position row against ONE (sub, i) row carrying
    all ``c`` centroid values as columns, aggregates N[·subs] groups
    (6.4M — cells× less group state, no 200M-row window), and takes
    the argmin as a LEAST + first-match CASE projection (ties →
    smallest cell, exactly the original ORDER BY d ASC, cell ASC).
    Every d_c is the identical exact-int64 sum, so the assignment —
    and therefore the books, codes, and final ranking — is
    BIT-IDENTICAL to the un-pivoted oracle text.

    ``pos``: position view (columns id, [sub,] i, ``val``);
    ``prev``: previous book view (``cell_col``, [sub,] i, cv);
    ``emit``: 'books' → requantized means, 'codes' → assignments;
    ``subspaced``: per-subspace PQ shape vs whole-vector coarse
    shape. Shared by sim_pq_topk and sim_ivfpq_topk."""
    cvs = ", ".join(
        f"max(CASE WHEN {cell_col} = {n} THEN cv END) AS cv{n}"
        for n in range(c)
    )
    ds = ", ".join(
        f"CAST(sum((p.{val} - pv.cv{n}) * (p.{val} - pv.cv{n})) "
        f"AS BIGINT) AS d{n}"
        for n in range(c)
    )
    m = "least(" + ", ".join(f"d{n}" for n in range(c)) + ")"
    cell_case = (
        "CASE "
        + " ".join(f"WHEN d{n} = _m THEN {n}" for n in range(c))
        + " END"
    )
    if subspaced:
        pv_key, e_key, join_pv = "sub, i", "p.id, p.sub", (
            "pv.sub = p.sub AND pv.i = p.i"
        )
        a_cols, join_a = "id, sub", "p.id = a.id AND p.sub = a.sub"
        book_key = "a.{c}, p.sub, p.i".format(c=cell_col)
        book_sel = f"a.{cell_col}, p.sub, p.i"
    else:
        pv_key, e_key, join_pv = "i", "p.id", "pv.i = p.i"
        a_cols, join_a = "id", "p.id = a.id"
        book_key = f"a.{cell_col}, p.i"
        book_sel = f"a.{cell_col}, p.i"
    head = f"""
WITH pv AS (
  SELECT {pv_key}, {cvs} FROM {prev} GROUP BY {pv_key}
),
e AS (
  SELECT {e_key}, {ds}
  FROM {pos} p JOIN pv ON {join_pv}
  GROUP BY {e_key}
),
a AS (
  SELECT {a_cols}, {cell_case} AS {cell_col}
  FROM (SELECT *, {m} AS _m FROM e)
)"""
    if emit == "codes":
        return head + f"\nSELECT {a_cols}, {cell_col} FROM a"
    # MERGE hint on the assignment side: at the 200k-vector point
    # the 6.4M-row `a` frame compresses under the 64 MB auto
    # threshold, and AQE's broadcast attempt dies building the
    # hash relation in the 8g driver (the r13 sf10 re-run finding);
    # sort-merge is the right physical join for two frames this
    # size anyway, at every scale
    return head + f"""
SELECT /*+ MERGE(a) */ {book_sel},
       CAST(floor(CAST(sum(p.{val}) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) + 5e-1) AS BIGINT) AS cv
FROM a JOIN {pos} p ON {join_a}
GROUP BY {book_key}
"""


def _pq_pivot_round_sql(prev: str, c: int, emit: str) -> str:
    return pivot_lloyd_sql("te_pq_upos", prev, c, emit)


_PQ_B0_SQL = f"""
WITH seeds AS (
  SELECT id, CAST(row_number() OVER (
           ORDER BY md5(CAST(id AS STRING)), id) AS INT) - 1 AS cell
  FROM (SELECT DISTINCT id FROM te_pq_upos) u
)
SELECT s.cell, p.sub, p.i, p.q AS cv
FROM seeds s JOIN te_pq_upos p ON p.id = s.id WHERE s.cell < {_PQ_CELLS}
"""


@query(
    "sim_pq_topk",
    sql="WITH " + _pq_sql(_PQ_POS_DUCK, " // ", "MATERIALIZED "),
)
def sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN top-5 (Jégou 2011): 32 subspaces ×
    32 centroids (160-bit codes, 12.8× compression of the 64-d float
    vectors), asymmetric-distance candidate search over codes only,
    then a cosine re-rank — the compressed-index scale path beyond
    IVF. r14 knob posture (VERDICT r13 #1): the RERANK POOL is
    derived from the corpus count (max(4k, ⌈√n⌉) — ADC's
    quantization rank-noise band widens with the corpus, so a √n
    pool keeps end recall steady while the exact rerank stays
    sublinear; both engines transcribe the same integer ceil-sqrt,
    the oracle via its `cells` CTE). The subspace/codebook counts
    (32×32) stay fixed BY DESIGN: they are compression-quality
    knobs, not selectivity — codebook state is m·k·(D/m) doubles
    regardless of corpus size and the ADC scan is linear over
    compressed codes by construction, so nothing about them silently
    degrades into an n²-class plan at scale. FULL ORACLE since r12 via
    the deterministic program in the block comment above; recall vs
    brute force is pinned in tests/test_llm_ops.py for this twin AND
    the float production operators.

    Scale (r13 ran each round as a PIVOTED SQL job —
    :func:`_pq_pivot_round_sql`, kept as the oracle's shape and the
    internals test's reference; r14 session 6 executes each round as
    ONE ``mapInArrow`` pass, guide §4.2): the unit-quantized frame is
    checkpointed once in WIDE form (one row per vector, the 64 values
    an ``array<bigint>``); each Lloyd round scores every (vector,
    code) distance with float64 BLAS inside the Arrow batch (exact —
    every partial sum is an integer < 2⁵³, see operators/lloyd_exact),
    accumulates per-task component sums, and reduces the bounded
    partials with the oracle's own floor-mean expression — no join,
    no N·subs-group aggregate, no corpus SMJ per round; codes are one
    assignment pass; ADC/rerank is one final shallow statement over
    explode-on-demand views of the wide frame. Exact-int64 sums
    everywhere, so the result is BIT-IDENTICAL to the
    single-statement oracle text (pinned round-for-round against the
    pivoted SQL in tests/test_lloyd_exact.py)."""
    import numpy as np

    from trendengine_spark.operators.lloyd_exact import (
        books_sub_from_partials,
        books_sub_rows,
        lloyd_round_sub,
        local_rows_df,
        seed_books,
    )
    from trendengine_spark.operators.similarity import adaptive_n_cells

    n = sql_over_tables(
        spark, sf_dir, "SELECT count(*) AS n FROM embeddings",
        ("embeddings",),
    ).first()["n"]
    wide = sql_over_tables(
        spark, sf_dir, _PQ_WIDE_SPARK, ("embeddings",)
    ).localCheckpoint()
    wide.createOrReplaceTempView("te_pq_wide")
    subs, sd = _PQ_SUBS, 64 // _PQ_SUBS
    seeds = seed_books(spark, "te_pq_wide", _PQ_CELLS)
    cv = np.zeros((_PQ_CELLS, subs, sd), dtype=np.int64)
    mask = np.zeros((_PQ_CELLS, subs), dtype=bool)
    cv[: seeds.shape[0]] = seeds.reshape(seeds.shape[0], subs, sd)
    mask[: seeds.shape[0]] = True
    for _ in (1, 2, 3):
        cv, mask = books_sub_from_partials(
            lloyd_round_sub(wide, cv, mask, "books", subs, sd),
            _PQ_CELLS, subs, sd,
        )
    local_rows_df(
        spark, books_sub_rows(cv, mask, sd),
        "cell int, sub int, i int, cv bigint",
    ).createOrReplaceTempView("te_pq_b3")
    codes = lloyd_round_sub(
        wide, cv, mask, "codes", subs, sd
    ).localCheckpoint()
    codes.createOrReplaceTempView("te_pq_codes")
    spark.sql(
        # divisor interpolated from sd (ADVICE r14: a literal 2 here
        # silently diverges if _PQ_SUBS ever changes)
        f"SELECT id, CAST(pos DIV {sd} AS INT) AS sub, pos AS i, q "
        "FROM te_pq_wide LATERAL VIEW posexplode(qa) t AS pos, q"
    ).createOrReplaceTempView("te_pq_upos")
    k = _PQ_K
    pool = max(4 * k, adaptive_n_cells(n))
    return spark.sql(f"""
WITH nrm AS (
  SELECT id, CAST(sum(q * q) AS BIGINT) AS n2 FROM te_pq_upos GROUP BY id
),
qdt AS (
  SELECT p.id AS query_id, c.sub, c.cell,
         CAST(sum(p.q * c.cv) AS BIGINT) AS dt
  FROM te_pq_upos p JOIN te_pq_b3 c ON c.sub = p.sub AND c.i = p.i
  WHERE p.id < 10 GROUP BY p.id, c.sub, c.cell
),
adc AS (
  SELECT q5.query_id, cd.id AS vec_id, CAST(sum(q5.dt) AS BIGINT) AS score
  FROM te_pq_codes cd JOIN qdt q5 ON q5.sub = cd.sub AND q5.cell = cd.cell
  WHERE cd.id <> q5.query_id
  GROUP BY q5.query_id, cd.id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
    FROM adc) q6 WHERE rn <= {pool}
),
sdot AS (
  SELECT cd.query_id, cd.vec_id, CAST(sum(pq.q * pc.q) AS BIGINT) AS dt
  FROM cand cd
  JOIN te_pq_upos pq ON pq.id = cd.query_id
  JOIN te_pq_upos pc ON pc.id = cd.vec_id AND pc.i = pq.i
  GROUP BY cd.query_id, cd.vec_id
),
ranked AS (
  SELECT s.query_id, s.vec_id,
         CAST(s.dt AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
              * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_sim,
         row_number() OVER (PARTITION BY s.query_id ORDER BY
           CAST(s.dt AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                * sqrt(CAST(nb.n2 AS DOUBLE))) DESC,
           s.vec_id ASC) AS rn
  FROM sdot s
  JOIN nrm na ON na.id = s.query_id
  JOIN nrm nb ON nb.id = s.vec_id
)
SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {k}
ORDER BY query_id, rn
""")


@query(
    "text_bigram_familiarity",
    sql=f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    big AS (
      SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS bg
      FROM tok, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS u(i)
      WHERE len(ts) >= 2
    ),
    cnt AS (SELECT bg, count(*) AS c FROM big GROUP BY 1)
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(c) AS BIGINT) AS total_freq,
           CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / count(*) AS familiarity
    FROM big JOIN cnt USING (bg)
    GROUP BY doc_id
    """,
)
def text_bigram_familiarity(spark, sf_dir):
    """Corpus-frequency familiarity score (an LM-free quality
    signal): each document's token bigrams are weighted by their
    corpus-wide occurrence count; low scores = rare-bigram documents
    (boilerplate noise, lorem-garbage, wrong-language text). The
    plan is the inverted-index discipline: bigram counts are one
    map-side-combined aggregate, and the doc-side re-join is keyed
    by the bigram (never doc × doc). All-integer math ending in ONE
    bigint/bigint division, so the score is bit-identical across
    engines — no log/rounding ambiguity."""
    from trendengine_spark.operators.text import tokens_col

    pat = r"\G(?=((?:\S+ ){1}\S+))\S+ ?"
    docs = t(spark, sf_dir, "documents")
    joined = F.concat_ws(" ", tokens_col(F.col("text")))
    bigs = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(joined, F.lit(pat), 1)).alias("bg"),
    ).filter(F.col("bg") != "")
    cnt = bigs.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    return (
        bigs.join(cnt, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("total_freq"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias("familiarity"),
        )
    )


@query(
    "pipeline_source_mixture",
    sql="""
    WITH ranked AS (
      SELECT doc_id, source,
             CAST(substr(source, 4) AS INT) AS src_num,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), kept AS (
      SELECT source,
             count(*) AS n_total,
             count(*) FILTER (rn % (CASE WHEN src_num < 5 THEN 1
                                         WHEN src_num < 10 THEN 2
                                         ELSE 5 END) = 0) AS n_kept
      FROM ranked GROUP BY source
    )
    SELECT source, n_total, CAST(n_kept AS BIGINT) AS n_kept,
           CAST(CAST(n_kept AS BIGINT) AS DOUBLE) / n_total AS realized_rate
    FROM kept
    """,
)
def pipeline_source_mixture(spark, sf_dir):
    """Training-mixture downsampling (the Pile/Dolma-style per-source
    weighting): each source keeps a deterministic stride of its
    id-ordered documents (high-quality sources 0-4 at 1.0, mid 5-9 at
    0.5, tail at 0.2) — a pure window + modulo filter, no RNG, so the
    sample is reproducible across runs/partitionings and the oracle
    hash-matches. One shuffle keyed by source; output is the per-
    source realized mixture audit (the kept doc set itself is the
    same plan without the roll-up)."""
    stride = (
        F.when(F.col("src_num") < 5, F.lit(1))
        .when(F.col("src_num") < 10, F.lit(2))
        .otherwise(F.lit(5))
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.substring("source", 4, 10).cast("int").alias("src_num"),
    )
    ranked = docs.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("rn") % stride == 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_kept"),
        )
        .select(
            "source",
            "n_total",
            "n_kept",
            (F.col("n_kept").cast("double") / F.col("n_total")).alias(
                "realized_rate"
            ),
        )
    )


@query(
    "profile_equidepth_histogram",
    sql="""
    WITH b AS (
      SELECT value,
             CAST(ntile(10) OVER (ORDER BY value, event_id) AS INT) AS bkt
      FROM events
    )
    SELECT bkt, count(*) AS n,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM b GROUP BY bkt
    """,
)
def profile_equidepth_histogram(spark, sf_dir):
    """Equi-DEPTH (quantile) histogram of the value column — the
    profiling complement to profile_numeric_histogram's equi-width
    buckets: deciles carry equal row counts, bucket bounds reveal the
    distribution. Built on the scale-safe arithmetic ntile
    (:func:`~trendengine_spark.operators.relational.ntile_global` —
    range-bucketed global row number, no single-partition window; the
    (value, event_id) order makes decile assignment deterministic on
    both engines). One range shuffle + one tiny group-by."""
    from trendengine_spark.operators.relational import ntile_global

    ev = t(spark, sf_dir, "events").select("value", "event_id")
    b = ntile_global(ev, ["value", "event_id"], 10, out_col="bkt")
    return b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )
