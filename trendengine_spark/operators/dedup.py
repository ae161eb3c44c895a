"""Deduplication operators (LLM-data-pipeline surface).

Four tiers, cheapest-first, all designed around the 100 TB rule
"never materialize the all-pairs matrix":

1. :func:`exact_dedup` — hash group on the normalized text: one
   shuffle keyed by the text hash, representative = min id.
2. :func:`ngram_jaccard_pairs` — EXACT n-gram Jaccard via an
   inverted shingle index: explode distinct shingles, self-join on
   the shingle, count common shingles per pair. Candidate work is
   Σ df(shingle)² over shingles, not N²; a ``max_df`` cut drops
   stop-shingles (standard trick) to bound hot keys.
3. :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — the
   scale path: fixed-size signatures (xxhash64 with per-permutation
   salts — deterministic, no fitted model), banded LSH bucketing,
   candidate pairs only within buckets, then exact verification.
4. :func:`simhash_fingerprints` — 64-bit SimHash per document via
   one conditional-aggregation pass (64 JVM-side bit sums, no UDF);
   near-dup = small Hamming distance, bucketed by 16-bit blocks
   (pigeonhole: ≤3 differing bits ⇒ one of 4 blocks identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendengine_spark.operators.text import normalize_text, tokens_col
from trendengine_spark.operators.util import ctx_memo, fan_out, owned_cache


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized text: one row per distinct text with
    the representative (minimum) id and the duplicate count."""
    key = normalize_text(F.col(text_col)).alias("norm_text")
    return (
        df.select(F.col(id_col), key)
        .groupBy("norm_text")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    One JVM regex pass: the token stream is re-joined on single spaces
    (``concat_ws`` — canonical whitespace, so gram strings are
    byte-identical to joining token slices), then overlapping n-grams
    are captured with a ``\\G``-anchored lookahead — each match
    captures the n tokens starting at the cursor and consumes exactly
    one token, so every token start yields its gram and matching stops
    at position len-n+1. The previous formulation
    (``transform(sequence, slice+concat_ws)``) evaluated the lambda
    INTERPRETED per gram — measured 2.3 s for 260 k grams at sf0.1,
    ~90 % of the whole minhash query's honest cost; the regex pass is
    ordinary codegen'd expression work. Per-document
    ``array_distinct`` dedups INSIDE the row, so the output needs no
    global ``.distinct()`` shuffle.
    """
    df = fan_out(df)
    joined = F.concat_ws(" ", tokens_col(F.col(text_col)))
    pat = r"\G(?=((?:\S+ ){%d}\S+))\S+ ?" % (n - 1)
    grams = F.regexp_extract_all(joined, F.lit(pat), 1)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(grams)).alias("shingle"),
        )
        .where(F.col("shingle") != "")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity for all pairs ≥ ``threshold``,
    via the inverted index (join on shingle) — no all-pairs join.

    ``max_df`` (optional) drops shingles occurring in more than that
    many documents before pairing; at web scale this bounds the
    per-shingle join fan-out (a shingle in k docs contributes k²
    candidate pairs).

    SINGLE-ROW CEILING (ADVICE r11): the r11 pair enumeration
    materializes each shingle's full posting list as ONE in-row array
    (``collect_list`` → posexplode) — candidate VOLUME is unchanged
    versus the old self-join (Σ df²), but a hot shingle in k docs now
    also builds one k-element array row (~8k bytes) and carries it
    through the generate stage, where the self-join streamed pair
    rows with no per-row ceiling. Without ``max_df`` a pathological
    stop-shingle (k ~ 10⁸ at web scale) is therefore a multi-GB
    single row BEFORE it is a quadratic pair explosion. Always set
    ``max_df`` at scale; it caps both failure modes at once (the
    filter runs on ``size(ids)`` before any expansion). The engine's
    own callers pass it or operate at driver-test scale.
    """
    # owned_cache, not bare cache() (r3's unbounded leak) and not
    # localCheckpoint (r4's 4× regression: row-format blocks, codegen
    # cut, truncated lineage = unrecoverable on executor loss at
    # scale): the shingle table feeds the size branch and both pair
    # branches, and the columnar cache keeps lineage + codegen while
    # the per-key pool bounds live persistent RDDs across invocations.
    sh = owned_cache(shingles(df, id_col, text_col, n), f"dedup.shingles.{n}")
    # Pair enumeration via ONE groupBy(shingle) + in-row combination
    # expansion (r11): the old formulation self-joined the shingle
    # table (a ⋈ b on shingle) — three shuffles of the full
    # (id, shingle) set with the variable-length shingle STRING as
    # the join key, measured ~1.0 s at sf0.1. Grouping each shingle's
    # sorted posting list once and expanding the i<j combinations
    # with two codegen'd generators (posexplode for the anchor,
    # explode(slice) for its successors — NOT nested higher-order
    # `transform` lambdas, which evaluate interpreted and measured
    # SLOWER than the join) yields the identical pair multiset (ids
    # sorted ascending ⇒ id_a < id_b) from a single shuffle, measured
    # 0.52 s — ~2× faster. Candidate volume is unchanged —
    # Σ df(shingle)² — and the hot-key posture is unchanged too: the
    # self-join also colocated all k rows of a hot shingle in one
    # reduce task, so `max_df` remains the scale answer for
    # stop-shingles, now applied as a plain size filter on the
    # posting list (no extra df-count join).
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    if max_df is not None:
        grouped = grouped.filter(F.size("ids") <= max_df)
        # sizes must count the CAPPED shingle universe (same semantics
        # as the old left_semi re-filter): recover it from the kept
        # posting lists
        sh = grouped.select(
            F.explode("ids").alias("id"), "shingle"
        )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    anchored = grouped.filter(F.size("ids") >= 2).select(
        "ids", F.posexplode("ids").alias("i", "id_a")
    )
    common = (
        anchored.select(
            "id_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))
            ).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram CONTAINMENT |A∩B| / |A| for all DIRECTED pairs
    ≥ ``threshold`` — the asymmetric near-dup measure Jaccard misses:
    a short document quoted inside a long one scores high containment
    but low Jaccard (the union is dominated by the long side), which
    is exactly the quote/subset/boilerplate case corpus dedup wants
    to catch. Same inverted-index plan as :func:`ngram_jaccard_pairs`
    (shingle join, never all-pairs); the pair set is directed
    (id_a ≠ id_b both ways) because containment is not symmetric.

    ``max_df`` (r8, VERDICT r7 task 5) mirrors the Jaccard twin's
    hot-shingle cap: a shingle in k documents contributes k² candidate
    pairs, and containment's target data — boilerplate-heavy corpora —
    is precisely where some shingle lands in 10⁴⁺ docs. Dropping
    shingles with document frequency > ``max_df`` BEFORE pairing
    bounds candidate volume at Σ min(df, max_df)²; sizes (n_a) are
    computed on the capped shingle set so containment stays a
    consistent ratio of the same universe (identical to the Jaccard
    twin's capped semantics). Measured: tools/stress_llm.py
    --hot-shingle (one shingle in every doc of a 10⁴-doc corpus)."""
    sh = owned_cache(
        shingles(df, id_col, text_col, n), f"dedup.shingles.{n}"
    )
    if max_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    out = (
        common.join(sa, "id_a")
        .withColumn(
            "containment", F.col("n_common") / F.col("n_a").cast("double")
        )
        .filter(F.col("containment") >= threshold)
    )
    return out.select("id_a", "id_b", "n_common", "n_a", "containment")


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    mount: int = 0,
    family: str = "xxhash64",
) -> DataFrame:
    """Fixed-size MinHash signature per document.

    One base ``xxhash64`` over the shingle STRING, then permutation i
    re-hashes the resulting 8-byte long with seed i — re-hashing a
    fixed-width long is far cheaper than hashing a variable-length
    string per permutation, and (unlike a multiply-add universal
    family) stays inside ANSI-mode arithmetic (Spark 4 throws on long
    overflow). One explode + one groupBy(id) aggregation — no UDF,
    fully deterministic (no fitted model, unlike
    ``pyspark.ml.feature.MinHashLSH``, so results are reproducible
    across runs and clusters). The exploded + codegen-aggregate form
    is deliberate: an array-column formulation (``array_min`` /
    ``aggregate`` over higher-order lambdas) evaluates the lambdas in
    interpreted mode and measured ~10× slower than the whole-stage-
    codegen min aggregates here; the map-side partial agg means the
    shuffle carries only one 64-long row per document anyway.
    """
    # Plan built through the SQL front-end (see ``sqltext``): the
    # 64-wide aggregate list costs ONE JVM-side parse instead of
    # hundreds of py4j round trips — even with ctx_memo'd Column
    # trees, shipping the list into groupBy().agg() plus the eager
    # per-step analysis measured ~300 ms of client latency per build
    # (r6 plan-construction profile; the traced benchmark run now reports
    # it as queries.build_ms). The SQL text reproduces
    # :func:`shingles` exactly (same \\G-anchored regex — its
    # rationale lives on that function, which remains the DataFrame
    # API for composition). ``mount`` keeps view names distinct when
    # two corpora's subplans compose in one query.
    spark = df.sparkSession
    view = f"_te_minhash_in_{mount}"
    fan_out(df).createOrReplaceTempView(view)
    sql_pat = r"\\G(?=((?:\\S+ ){%d}\\S+))\\S+ ?" % (n - 1)
    if family == "md5":
        # Engine-portable permutation family (r9): ONE md5 per
        # shingle anchors a uniform 60-bit integer (first 15 hex
        # chars, reduced mod the Mersenne prime 2³¹−1), then
        # permutation i is the affine universal-family map
        # (h·(2i+3) + i) mod p — any engine with md5() and int64
        # arithmetic computes the identical signature (the DuckDB
        # oracle of dedup_incremental_batch does). Products stay
        # < 2⁴² so ANSI-mode int64 never overflows. First cut of
        # this family hashed md5('<i>:'||shingle) per permutation —
        # 64 variable-length md5s per shingle measured 6.4 s at
        # sf0.1 vs 1.9 s for this one-md5 form. xxhash64 stays the
        # 100 TB default (one fixed-width JVM re-hash per perm);
        # md5 is the cross-engine-reproducibility contract, same
        # spirit as pipeline_bernoulli_sample's md5 draw.
        mins = ", ".join(
            f"min((_h * {2 * i + 3}L + {i}L) % 2147483647L)"
            for i in range(num_perm)
        )
        inner = (
            "SELECT id, CAST(conv(substr(md5(shingle), 1, 15), 16, 10)"
            " AS BIGINT) % 2147483647 AS _h FROM sh WHERE shingle != ''"
        )
    elif family == "xxhash64":
        mins = ", ".join(f"min(xxhash64(_h, {i}))" for i in range(num_perm))
        inner = f"SELECT id, xxhash64(shingle) AS _h FROM sh WHERE shingle != ''"
    else:  # pragma: no cover - authoring guard
        raise ValueError(f"unknown minhash family: {family!r}")
    return spark.sql(
        f"""
        WITH sh AS (
          SELECT `{id_col}` AS id,
                 explode(array_distinct(regexp_extract_all(
                   concat_ws(' ', filter(split(trim(`{text_col}`), '\\\\s+'),
                                         x -> x != '')),
                   '{sql_pat}', 1))) AS shingle
          FROM {view}
        )
        SELECT id, array({mins}) AS signature
        FROM ({inner})
        GROUP BY id
        """
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    mount: int = 0,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, with the
    signature-estimated Jaccard attached and thresholded.

    num_perm/bands = rows-per-band r; a pair with true Jaccard s is
    caught by a band with prob 1-(1-s^r)^bands. Candidates are joined
    only within (band, band-hash) buckets — the only shuffle wider
    than the data is keyed by bucket, never all-pairs.

    The signature table is materialized once via :func:`owned_cache`:
    columnar InMemoryRelation (codegen + full lineage → executor loss
    recomputes, unlike r4's ``localCheckpoint`` whose truncated
    lineage aborts the job at scale), with per-key ownership so
    repeated invocations never grow the persistent-RDD set (r3's bare
    ``cache()`` leak). Plain plan sharing was measured 3-4× slower:
    the branches' exchanges do not reuse across AQE stage boundaries,
    so the shingle→hash→min pipeline ran per branch.

    Verification: buckets carry only (id, band, bucket) (~24 B/row)
    and the distinct candidate pairs re-join the cached signature
    table twice. Carrying the 64-long signature through the band
    explode instead (in-place verify, two joins fewer) measured slower
    already at sf0.1 and spills its ~8 KB/doc band shuffle at 200k
    docs (SCALE.md, MinHash-LSH row).

    ``mount``: pass distinct values when composing two corpora's LSH
    plans in one query plan (forwarded to the signature/band memo keys
    — see ``ctx_memo``'s one-mount-per-plan contract).
    """
    if num_perm % bands:
        raise ValueError("num_perm must divide into bands")
    sig = owned_cache(
        minhash_signatures(df, num_perm, id_col, text_col, n, mount=mount),
        f"dedup.minhash.sig.{num_perm}.{n}.{mount}",
    )
    # band/verify plan built through the SQL front-end — one JVM
    # parse for the 16-struct band explode + bucket self-join instead
    # of hundreds of eager-analysis py4j round trips (the band
    # expression list alone measured ~200 ms/build even ctx_memo'd).
    spark = df.sparkSession
    sig_view = f"_te_minhash_sig_{num_perm}_{bands}_{mount}"
    sig.createOrReplaceTempView(sig_view)
    est_expr = (
        "size(filter(zip_with(sa.signature, sb.signature,"
        " (x, y) -> CAST(x = y AS INT)), v -> v = 1))"
        f" / CAST({num_perm} AS DOUBLE)"
    )
    # NO WITH/CTE here: a CTE reference to a view over a persisted
    # DataFrame defeats cache substitution (CTE defs are inlined
    # after withCachedData — measured: the whole signature pipeline
    # recomputed per branch, 16.8 s vs 11.6 s at 100k docs), so the
    # banded subquery text is inlined per branch instead. Plain
    # subqueries/self-joins/LATERAL VIEW all substitute fine.
    banded = (
        f"(SELECT id, bh.band AS band, bh.bucket AS bucket"
        f" FROM {sig_view} LATERAL VIEW explode(array("
        f"{_band_structs_sql(num_perm, bands)})) bt AS bh)"
    )
    return spark.sql(
        f"""
        SELECT id_a, id_b, round(est_jaccard, 6) AS est_jaccard
        FROM (
          SELECT id_a, id_b, {est_expr} AS est_jaccard
          FROM (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM {banded} a JOIN {banded} b
              ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          ) cands
          JOIN {sig_view} sa ON sa.id = id_a
          JOIN {sig_view} sb ON sb.id = id_b
        ) WHERE est_jaccard >= {threshold!r}
        """
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    pairs_unique: bool = False,
) -> DataFrame:
    """Connected components over a near-duplicate pair list →
    (id, cluster_id) with cluster_id = min id in the component; the
    canonical-document assignment step of a dedup pipeline.

    Iterative min-label propagation with pointer jumping: each round
    (a) every node adopts the min label among itself and its
    neighbors, then (b) re-points to its label's label (path halving)
    — so rounds needed is O(log diameter), not O(diameter). Each
    round's result is ``localCheckpoint``-ed: iterative DataFrame
    loops otherwise grow the logical plan linearly and re-analysis
    cost explodes (the classic Spark iterative-algorithm trap).

    Two job-count trims (r11, VERDICT finding 2 — the CC loop was ~2s
    of scheduler stages on a 256-pair graph):

    * **Fused round 0.** With identity labels, round 1's neighbor-min
      join reduces to ``min(id, min(neighbor))`` — ONE groupBy over
      the symmetric edge list replaces the identity-label
      materialization plus the first round's two joins.
    * **Edge-equality fixpoint test, checked BEFORE each round.**
      The min-propagation fixpoint is exactly "labels are equal
      across every edge" (labels are component-constant, and the
      min-id node keeps its own id, so the constant is the component
      min). Testing that directly — two joins of the checkpointed
      edge list against the checkpointed labels, limit-1 — costs a
      fraction of a propagation round (the old probe ran a FULL extra
      round — three joins plus a checkpoint — just to observe no
      change), is type-agnostic, and lets an already-converged init
      state (the common near-dup case: tiny cluster diameters) exit
      after one cheap test.

    ``max_iterations`` bounds runaway graphs. ``pairs_unique=True``
    skips the edge-dedup shuffle: callers whose pair list is unique
    with id_a < id_b by construction (every groupBy-produced pair set
    in this module) make the symmetric union duplicate-free already —
    and duplicate edges would only repeat work, never change the
    min-label fixpoint, so the flag is a pure plan trim.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    if not pairs_unique:
        edges = edges.distinct()
    edges = edges.localCheckpoint()
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_mn"))
        .select("id", F.least(F.col("id"), F.col("_mn")).alias("cluster_id"))
        .localCheckpoint()
    )

    def _converged(lb) -> bool:
        ls = lb.select(F.col("id").alias("_sid"), F.col("cluster_id").alias("_sl"))
        ld = lb.select(F.col("id").alias("_did"), F.col("cluster_id").alias("_dl"))
        return (
            edges.join(ls, edges.src == ls._sid)
            .join(ld, edges.dst == ld._did)
            .filter(F.col("_sl") != F.col("_dl"))
            .limit(1)
            .count()
        ) == 0

    for _ in range(max_iterations):
        if _converged(labels):
            break
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("_nbr_min"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("_nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # pointer jumping: label := label(label)
        ptr = stepped.select(
            F.col("id").alias("_pid"), F.col("cluster_id").alias("_plabel")
        )
        new_labels = (
            stepped.join(ptr, stepped.cluster_id == ptr._pid, "left")
            .select(
                "id",
                F.coalesce("_plabel", "cluster_id").alias("cluster_id"),
            )
            .localCheckpoint()
        )
        labels = new_labels
    return labels


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    mount: int = 0,
    family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document in one conditional-agg pass.

    Token hash = xxhash64(token); bit j of the fingerprint is set when
    Σ_tokens (±1 by bit j of the token hash) > 0. The 64 bit-sums are
    plain JVM aggregates (shiftright + bitwise AND), map-side combined.
    Also emits the four 16-bit blocks used for pigeonhole bucketing of
    Hamming-≤3 near-dup search.

    ``family='md5'`` (r10) is the engine-portable variant, same
    contract as :func:`minhash_signatures`: the 64 token-hash bits
    come from md5's first 16 hex chars as two 32-bit halves
    (``conv(substr(md5(token), 1|9, 8), 16, 10)``) — any engine with
    md5() and integer shifts computes the identical fingerprint (the
    DuckDB oracle of ``dedup_simhash`` does, relationally). One md5
    per token row, computed once before the 64 conditional aggs;
    xxhash64 stays the 100 TB default (one fixed-width JVM hash, no
    hex-string decode).
    """
    tok = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    )
    if family == "md5":
        md5h = F.md5("token")
        tok = tok.select(
            "id",
            F.conv(F.substring(md5h, 1, 8), 16, 10)
            .cast("long")
            .alias("_h_hi"),
            F.conv(F.substring(md5h, 9, 8), 16, 10)
            .cast("long")
            .alias("_h_lo"),
        )
    elif family != "xxhash64":  # pragma: no cover - authoring guard
        raise ValueError(f"unknown simhash family: {family!r}")

    def _build():
        if family == "md5":
            def bit_src(j):
                src = F.col("_h_lo") if j < 32 else F.col("_h_hi")
                return F.shiftright(src, j % 32)
        else:
            h = F.xxhash64("token")

            def bit_src(j):
                return F.shiftright(h, j)

        sums = [
            F.sum(
                F.when(bit_src(j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
        acc = F.lit(0).cast("long")
        for j in range(bits):
            bit = F.when(F.col(f"b{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            acc = acc.bitwiseOR(F.shiftleft(bit, j))
        return sums, acc.alias("simhash")

    # ~130 wide-expression py4j round trips — built once per context;
    # ``mount`` in the key isolates exprIds when two fingerprint
    # subplans share one query plan (see ctx_memo contract)
    bit_sums, fp = ctx_memo(
        df.sparkSession, f"simhash.exprs.{bits}.{mount}.{family}", _build
    )
    agg = tok.groupBy("id").agg(*bit_sums)
    out = agg.select("id", fp)
    blocks = [
        F.shiftrightunsigned(F.col("simhash"), 16 * k).bitwiseAND(F.lit(0xFFFF)).alias(f"block{k}")
        for k in range(4)
    ]
    return out.select("id", "simhash", *blocks)


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3, **kw) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``,
    bucketed by 16-bit blocks (pigeonhole ⇒ recall 1.0 for ≤3 bits):
    join only within equal (block index, block value) buckets, then
    verify with ``bit_count``.

    One self-join, not four: the fingerprint explodes to 4
    (block_idx, block_val) rows per doc and both sides bucket on that
    pair — the same single-shuffle shape as the MinHash band join
    (replaces the old union-of-4-block-joins plan: 8 cache reads and
    4 joins' worth of stages for identical semantics).
    """
    # owned_cache: the fingerprint table feeds both self-join sides;
    # one columnar materialization with full lineage, pool-bounded
    # across invocations (same rationale as minhash_lsh_pairs)
    fp = owned_cache(
        simhash_fingerprints(df, **kw),
        f"dedup.simhash.fp.{kw.get('bits', 64)}.{kw.get('mount', 0)}"
        f".{kw.get('family', 'xxhash64')}",
    )
    banded = fp.select(
        "id",
        "simhash",
        F.posexplode(F.array(*[F.col(f"block{k}") for k in range(4)])).alias(
            "blk_idx", "blk_val"
        ),
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"),
        "blk_idx", "blk_val",
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"),
        "blk_idx", "blk_val",
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["blk_idx", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def _band_structs_sql(
    num_perm: int, bands: int, family: str = "xxhash64"
) -> str:
    r = num_perm // bands
    # bucket hash follows the signature family so the whole index is
    # engine-portable when family='md5' (bucket is then an md5 hex
    # string both engines derive identically from identical
    # signature strings)
    bucket_fn = "md5" if family == "md5" else "xxhash64"
    return ", ".join(
        "named_struct('band', {bi}, 'bucket', {fn}(concat_ws(',', {parts})))".format(
            bi=bi,
            fn=bucket_fn,
            parts=", ".join(
                f"CAST(element_at(signature, {bi * r + j + 1}) AS STRING)"
                for j in range(r)
            ),
        )
        for bi in range(bands)
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    family: str = "xxhash64",
) -> dict:
    """Persist the corpus's LSH index for INCREMENTAL dedup: the
    (id, signature) table and the thin (id, band, bucket) band table
    as parquet, plus a params manifest — so tomorrow's ingest batch
    can be checked against today's corpus WITHOUT re-signaturing the
    corpus (the production posture: the index is written once per
    corpus snapshot and probed per batch). Band-table layout is the
    probe-side join key order (band, bucket), so at scale it can be
    written bucketed on those keys for an exchange-free probe join."""
    import json as _json
    import os

    if num_perm % bands:
        raise ValueError("num_perm must divide into bands")
    spark = df.sparkSession
    sig = minhash_signatures(df, num_perm, id_col, text_col, n, family=family)
    # r14 (guide §2.3 "don't compute things twice"): the shingle →
    # hash → 64-perm-min pipeline is the dominant cost of the build,
    # and the bands write re-executed it end-to-end (two writes, no
    # shared materialization — measured 2× the signature pass at
    # sf0.1, and the same factor on the 323 s sf30 index build). Pin
    # it for the duration of the two writes: the signatures write
    # populates the cache, the bands write re-reads columnar batches.
    sig = sig.persist()
    view = f"_te_mh_index_{num_perm}_{bands}"
    sig.createOrReplaceTempView(view)
    os.makedirs(path, exist_ok=True)
    try:
        sig.write.mode("overwrite").parquet(os.path.join(path, "signatures"))
        spark.sql(
            f"SELECT id, bh.band AS band, bh.bucket AS bucket FROM {view} "
            f"LATERAL VIEW explode(array("
            f"{_band_structs_sql(num_perm, bands, family)})) "
            f"bt AS bh"
        ).write.mode("overwrite").parquet(os.path.join(path, "bands"))
        meta = {"num_perm": num_perm, "bands": bands, "n": n, "family": family}
        with open(os.path.join(path, "meta.json"), "w") as fh:
            _json.dump(meta, fh)
        # row count from the cached table (one cheap job) — identical
        # to what just landed in parquet, without re-listing the files
        n_docs = sig.count()
    finally:
        sig.unpersist()
    return {**meta, "n_docs": n_docs}


def incremental_minhash_dedup(
    new_docs: DataFrame,
    index_path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Check an INGEST BATCH against a stored corpus index
    (:func:`write_minhash_index`): signature only the new documents,
    equi-join their band buckets against the persisted band table
    (new × stored — never corpus × corpus, and the corpus is never
    re-processed), then verify candidates with the estimated Jaccard
    from the two signature tables. Returns
    (new_id, index_id, est_jaccard ≥ threshold) — the rows a
    curation pipeline drops (or routes to exact verification) before
    admitting the batch. Index params are read from the manifest, so
    probe and index can never silently disagree on the hash family."""
    import json as _json
    import os

    with open(os.path.join(index_path, "meta.json")) as fh:
        meta = _json.load(fh)
    num_perm, bands, n = meta["num_perm"], meta["bands"], meta["n"]
    family = meta.get("family", "xxhash64")
    spark = new_docs.sparkSession
    sig_new = owned_cache(
        minhash_signatures(
            new_docs, num_perm, id_col, text_col, n, family=family
        ),
        f"dedup.mh.incr.{num_perm}.{bands}.{family}",
    )
    return probe_minhash_index(
        sig_new,
        spark.read.parquet(os.path.join(index_path, "bands")),
        spark.read.parquet(os.path.join(index_path, "signatures")),
        num_perm,
        bands,
        threshold,
        family=family,
    )


def probe_minhash_index(
    sig_new: DataFrame,
    stored_bands: DataFrame,
    stored_sig: DataFrame,
    num_perm: int,
    bands: int,
    threshold: float,
    family: str = "xxhash64",
) -> DataFrame:
    """The probe core shared by the parquet-path incremental dedup and
    the versioned/streaming pipeline (r8): band the NEW signatures,
    bucket-equi-join against the stored band table (new × stored,
    never corpus × corpus), verify candidates with the estimated
    Jaccard from the two signature tables."""
    spark = sig_new.sparkSession
    nview = f"_te_mh_new_{num_perm}_{bands}"
    sig_new.createOrReplaceTempView(nview)
    stored_bands.createOrReplaceTempView(f"{nview}_stored_bands")
    stored_sig.createOrReplaceTempView(f"{nview}_stored_sig")
    banded_new = (
        f"(SELECT id, bh.band AS band, bh.bucket AS bucket FROM {nview} "
        f"LATERAL VIEW explode(array("
        f"{_band_structs_sql(num_perm, bands, family)})) "
        f"bt AS bh)"
    )
    est = (
        "size(filter(zip_with(sa.signature, sb.signature,"
        " (x, y) -> CAST(x = y AS INT)), v -> v = 1))"
        f" / CAST({num_perm} AS DOUBLE)"
    )
    return spark.sql(
        f"""
        SELECT new_id, index_id, round(est_jaccard, 6) AS est_jaccard
        FROM (
          SELECT new_id, index_id, {est} AS est_jaccard
          FROM (
            SELECT DISTINCT a.id AS new_id, b.id AS index_id
            FROM {banded_new} a JOIN {nview}_stored_bands b
              ON a.band = b.band AND a.bucket = b.bucket
          ) cands
          JOIN {nview} sa ON sa.id = new_id
          JOIN {nview}_stored_sig sb ON sb.id = index_id
        ) WHERE est_jaccard >= {threshold!r}
        """
    )


def append_minhash_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_key: str | None = None,
) -> dict:
    """Fold an admitted ingest batch INTO the stored index
    (:func:`write_minhash_index` layout) — the second half of the
    production incremental loop: probe the batch
    (:func:`incremental_minhash_dedup`), drop/route the hits, then
    append the survivors' signatures and band rows so the NEXT batch
    is checked against them too. Cost is O(batch): only the new
    documents are signatured, the stored corpus is never re-read
    (parquet append of two tables). Params come from the manifest —
    the appended rows use the exact hash family the index was built
    with. Measured curve (probe cost vs corpus size):
    ``tools/stress_llm.py`` / SCALE.md.

    Durability contract (ADVICE r8): the two parquet appends are NOT
    one atomic commit. The write order makes a crash in the window
    correctness-safe — signatures land first, and orphaned signature
    rows are INVISIBLE to probes (candidates are anchored by the band
    table, which lands second; bands-first would surface candidates
    whose signature join then silently drops them). A crash between
    the writes costs the batch's rows (re-append to recover); a blind
    re-append after a SUCCESSFUL call would duplicate rows. Passing
    ``batch_key`` closes that retry hole: applied keys are recorded
    in the manifest (atomic ``os.replace``) AFTER both appends, so a
    retried key is a no-op. The residual crash-between-writes window
    is inherent to the plain-parquet layout; exactly-once admission
    under crashes is the manifest-versioned streaming path's job
    (:mod:`trendengine_spark.streaming.dedup_pipeline` — three
    ordered idempotent versioned commits covering exactly this
    window)."""
    import json as _json
    import os

    with open(os.path.join(path, "meta.json")) as fh:
        meta = _json.load(fh)
    if batch_key is not None and batch_key in meta.get("applied", []):
        return meta  # retried batch: no-op
    num_perm, bands, n = meta["num_perm"], meta["bands"], meta["n"]
    family = meta.get("family", "xxhash64")
    spark = new_docs.sparkSession
    sig = minhash_signatures(
        new_docs, num_perm, id_col, text_col, n, family=family
    )
    # r14: same double-compute as write_minhash_index — pin the batch
    # signatures across the two appends (guide §2.3)
    sig = sig.persist()
    view = f"_te_mh_append_{num_perm}_{bands}_{family}"
    sig.createOrReplaceTempView(view)
    try:
        sig.write.mode("append").parquet(os.path.join(path, "signatures"))
        spark.sql(
            f"SELECT id, bh.band AS band, bh.bucket AS bucket FROM {view} "
            f"LATERAL VIEW explode(array("
            f"{_band_structs_sql(num_perm, bands, family)})) "
            f"bt AS bh"
        ).write.mode("append").parquet(os.path.join(path, "bands"))
    finally:
        sig.unpersist()
    if batch_key is not None:
        meta = dict(meta)
        meta["applied"] = [*meta.get("applied", []), batch_key]
        tmp = os.path.join(path, "meta.json.tmp")
        with open(tmp, "w") as fh:
            _json.dump(meta, fh)
        os.replace(tmp, os.path.join(path, "meta.json"))
    return meta


def band_table(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bucket) rows for a signature table — the thin probe
    side of the LSH index (used by both the parquet index writer and
    the versioned/streaming pipeline)."""
    view = f"_te_mh_bandtab_{num_perm}_{bands}"
    sig.createOrReplaceTempView(view)
    return sig.sparkSession.sql(
        f"SELECT id, bh.band AS band, bh.bucket AS bucket FROM {view} "
        f"LATERAL VIEW explode(array({_band_structs_sql(num_perm, bands)})) "
        f"bt AS bh"
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float | None = 0.95,
    n_cells: int = 16,
    iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drop_quantile: float = 0.995,
    block_rows: int = 4096,
    assign_cells: int = 1,
):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    k-means-cluster the embedding space, compare pairs ONLY within a
    cluster, drop every vector that has a more-similar-than-threshold
    neighbor with a smaller id.

    The complementary method to :func:`embedding_near_dup_pairs`'
    hyperplane LSH: LSH buckets by random projections (recall tuned by
    bands), SemDeDup buckets by LEARNED cluster structure — on real
    embedding corpora (which cluster) it concentrates true duplicates
    into the same cell far more densely than random planes do. Scale
    shape: candidate volume is Σ_cells |cell|², never n² — the
    n_cells knob trades recall for cost exactly like the paper's k;
    within-cell scoring runs as one BLAS matmul per row-block
    (``block_rows`` bounds the matrix so a skewed mega-cell streams
    in O(block · cell) memory instead of materializing |cell|²).

    ``threshold=None`` switches to an adaptive cut (synthetic corpora
    have no true duplicates): the cut is the exact ``drop_quantile``
    of the per-vector max within-cell neighbor similarity — i.e.
    "drop the ~(1-q) most redundant vectors", computed by a bounded
    1-row collect of a JVM percentile sketch, never by collecting
    scores.

    Returns ``(pairs, survivors)``: pairs is (id_a, id_b, cell,
    cos_sim) with id_a < id_b and cos_sim ≥ cut; survivors is the
    corpus ids minus the dropped (larger-id) members. Keep-smallest-id
    is a deterministic single-pass rule (the transitive-closure
    variant is :func:`connected_components` over the pairs, same as
    the MinHash cluster path).

    ``assign_cells=m`` over-assigns every vector to its m nearest
    cells (multi-probe): a duplicate pair split by a cluster boundary
    is recovered whenever ANY of the m cells is shared — the measured
    boundary-miss mode of single assignment (recall 0.999 → 1.0 at
    m=2 in tools/stress_semantic_dedup.py) — at ~m× candidate
    volume. Pairs co-occurring in several shared cells are deduped
    by one (id_a, id_b) aggregate before thresholding.

    Reference parity note: the reference has no embedding operators;
    this extends the dedup family per the brief's training-data
    pipeline requirements.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from trendengine_spark.operators.similarity import (
        _arrow,
        _collect,
        _encode,
        _vectors,
        ivf_index,
    )

    asg, cent = ivf_index(
        corpus, n_cells=n_cells, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    if assign_cells > 1:
        # top-m assignment pass: each vector once per nearest cell
        asg = _encode(
            corpus, cent[None], "cos", vec_col, [id_col, vec_col], "_cells",
            top=min(assign_cells, n_cells),
        ).select(id_col, vec_col, F.explode("_cells").alias("cell"))
    asg = owned_cache(asg, f"dedup.sem.{n_cells}.{seed}.{assign_cells}")

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def _cell_pairs(tbl: pa.Table) -> pa.Table:
        outs = {"id_a": [], "id_b": [], "cell": [], "cos_sim": []}
        if tbl.num_rows >= 2:
            ids = tbl.column(id_col).to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            m = _vectors(tbl, vec_col)[order]
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0.0] = 1.0
            m = m / norms[:, None]
            cell = tbl.column("cell")[0].as_py()
            # row-block the matmul: (block x n) at a time, strict upper
            # triangle via a vectorized mask; with a known threshold the
            # emission is prefiltered so output rows are only real hits
            n = len(ids)
            col_idx = np.arange(n)
            for lo in range(0, n, block_rows):
                hi = min(lo + block_rows, n)
                s = m[lo:hi] @ m.T  # (hi-lo, n)
                keep = col_idx[None, :] > np.arange(lo, hi)[:, None]
                if threshold is not None:
                    keep &= s >= threshold
                r_idx, c_idx = np.nonzero(keep)
                outs["id_a"].append(ids[r_idx + lo])
                outs["id_b"].append(ids[c_idx])
                outs["cell"].append(np.full(r_idx.size, cell, dtype=np.int32))
                outs["cos_sim"].append(s[r_idx, c_idx])
        cols = _collect(outs) or {name: [] for name in outs}
        return pa.Table.from_batches([_arrow(out_schema, cols)])

    all_pairs = asg.groupBy("cell").applyInArrow(_cell_pairs, out_schema)
    if assign_cells > 1:
        # a pair sharing several of its m cells is emitted once per
        # shared cell — collapse before thresholding
        all_pairs = all_pairs.groupBy("id_a", "id_b").agg(
            F.min("cell").alias("cell"), F.max("cos_sim").alias("cos_sim")
        )

    if threshold is None:
        # candidate table feeds both the percentile and the filter —
        # materialize once (same posture as embedding_near_dup_pairs)
        all_pairs = owned_cache(
            all_pairs, f"dedup.sem.pairs.{n_cells}.{seed}"
        )
        # exact percentile of per-vector max neighbor sim (1-row collect)
        per_vec_max = (
            all_pairs.select(
                F.explode(F.array("id_a", "id_b")).alias("vid"), "cos_sim"
            )
            .groupBy("vid")
            .agg(F.max("cos_sim").alias("mx"))
        )
        # percentile_approx, not percentile: the exact aggregate
        # buffers every value in ONE aggregation buffer (O(n) driver
        # of state) — the sketch keeps bounded state at any corpus
        # size and is exact whenever distinct values < accuracy
        q = per_vec_max.agg(
            F.percentile_approx("mx", drop_quantile, 100_000).alias("c")
        ).collect()[0]["c"]
        # separate name: the UDF closure must keep seeing None so a
        # cache-miss recomputation emits the same unfiltered rows
        cut = float(q) if q is not None else 2.0  # no pairs at all
    else:
        cut = threshold
    pairs = all_pairs.filter(F.col("cos_sim") >= cut)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = corpus.select(id_col).join(dropped, id_col, "left_anti")
    return pairs, survivors
