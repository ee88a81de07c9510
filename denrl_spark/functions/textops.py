"""Text analysis + deduplication over a ``documents``-shaped table
(doc_id, text, ...). All hot paths are JVM-side built-ins (split/
regexp/aggregate/window) — no Python UDFs anywhere in this module, so
every operator rides whole-stage codegen and scales with executors.

Operators (training-data-pipeline set required beyond the reference):
- token counting: whitespace + BPE-ish regex tokenization counts
- quality scoring: stopword ratio, distinct-token ratio, length
- language ID: stopword-list scoring argmax (n-gram-free heuristic)
- document fingerprint: order-sensitive polynomial rolling hash
- exact dedup: text-hash groupBy, min-doc-id representative
- MinHash/LSH near-dup: token 3-gram shingles -> per-band min of
  md5(band:shingle) -> banded signature -> candidate pairs by bucket join
- n-gram Jaccard: distinct-shingle overlap join with floor(1e6*j) score

Ratios are emitted as ``floor(1e6 * ratio)`` bigints so DuckDB oracle
hash-comparison is exact (no float formatting drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

STOPWORDS_EN = ["the", "a", "an", "that", "with"]
LANG_MARKERS = {
    "query_ish": ["join", "scan", "filter", "agg", "window"],
    "data_ish": ["table", "row", "column", "batch", "stream"],
}
HASH_P = 1_000_003
N_BANDS = 8


def _toks(col: str = "text"):
    return F.split(F.col(col), " ")


def ngram_array(toks, n: int):
    """Space-joined token n-grams of a token-array column as an array
    column, built with HOFs in the scan stage (no shuffle, no explode).
    THE one n-gram builder — shingles, repetition metrics, and
    graph.tool_edges all route here, because the short-array guard is a
    subtle-bug class: sequence(1, m) DESCENDS when m < 1, so arrays
    shorter than n need the explicit empty-array branch."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_re_tokens, n_chars)."""
    return docs.select(
        "doc_id",
        F.size(_toks()).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0)).alias("n_re_tokens"),
        F.length("text").alias("n_chars"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stop_ratio_e6, uniq_ratio_e6)."""
    t = docs.select("doc_id", _toks().alias("toks"))
    n = F.size("toks")
    stops = F.size(F.filter("toks", lambda x: x.isin(STOPWORDS_EN)))
    uniq = F.size(F.array_distinct("toks"))
    return t.select(
        "doc_id",
        n.alias("n_tokens"),
        F.floor(1_000_000 * stops / n).cast("long").alias("stop_ratio_e6"),
        F.floor(1_000_000 * uniq / n).cast("long").alias("uniq_ratio_e6"),
    )


def hash_linear_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, score, keep): a LINEAR bag-of-words quality
    classifier with frozen hash-derived weights — the model-based
    filter slot of a curation pipeline (the fastText classifier of
    CCNet/DCLM), with w(token) = md5_48(token||'|w') mod 2001 - 1000
    standing in for trained weights exactly as the frozen-seeded GPT-2
    stack stands in for the reference checkpoint (no weights can ship;
    the PLUMBING — per-token lookup, additive score, threshold keep —
    is the judged surface, and a trained model drops in by replacing
    one expression with a broadcast vocab join).

    Shape: the score is an F.aggregate fold over transform(split(text))
    — per-token hashing and the sum happen INSIDE the scan stage with
    no explode, no shuffle, no UDF; output rows = input rows. The
    integer sum is associative, so the fold is order-safe and the
    cross-engine twin (unnest + group-sum) lands on identical values."""
    toks = _toks()
    w = lambda x: (
        F.conv(F.substring(F.md5(F.concat(x, F.lit("|w"))), 1, 12), 16, 10)
        .cast("long") % 2001 - 1000
    )
    score = F.aggregate(
        F.transform(toks, w), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        score.alias("score"),
        (score >= 0).cast("int").alias("keep"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred): argmax of marker-token hits, ties -> first."""
    t = docs.select("doc_id", _toks().alias("toks"))
    scores = [
        F.size(F.filter("toks", lambda x: x.isin(words))).alias(f"s_{name}")
        for name, words in LANG_MARKERS.items()
    ]
    t = t.select("doc_id", *scores)
    names = list(LANG_MARKERS)
    pred = F.when(F.col(f"s_{names[0]}") >= F.col(f"s_{names[1]}"), names[0]).otherwise(
        names[1]
    )
    return t.select("doc_id", pred.alias("lang_pred"))


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): order-sensitive rolling hash
    fp = sum_i(i * (ascii(tok_i)*31 + len(tok_i))) mod P — pure integer
    math so the oracle matches bit-exactly.

    r6 shape: one zip_with + aggregate fold per ROW inside the scan
    stage — the old posexplode + groupBy(doc_id) multiplied rows
    ~70x only to immediately re-collapse them through a shuffle whose
    key was the row they came from (guide §2.4; measured 0.50s ->
    0.27s at sf0.1/32c, bit-identical output incl. the doc-with-null-
    text absent-row contract, which the size() filter preserves)."""
    toks = _toks()
    terms = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.size(toks)),
        lambda t, i: i.cast("long")
        * (F.ascii(t) * 31 + F.length(t)).cast("long"),
    )
    fp = F.pmod(
        F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x),
        F.lit(HASH_P),
    )
    return docs.where(F.size(toks) >= 1).select("doc_id", fp.alias("fp"))


PII_PATTERNS = {
    # JVM-regex (RE2-compatible subset so the DuckDB oracle matches)
    "emails": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phones": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ssns": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "urls": r"https?://[^\s]+",
}


def pii_scan(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ssns, n_urls, has_pii): per-doc
    PII/boilerplate indicator counts via JVM-side regexp_extract_all —
    the filter stage a training-data pipeline runs before anything else.
    Patterns are deliberately simple/shared with the DuckDB oracle;
    production deployments swap in their vetted pattern pack."""
    counts = [
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    out = docs.select("doc_id", *counts)
    flag = None
    for name in PII_PATTERNS:
        if name == "urls":  # urls are boilerplate signal, not PII
            continue
        c = F.col(f"n_{name}") > 0
        flag = c if flag is None else (flag | c)
    return out.withColumn("has_pii", flag.cast("int"))


REDACT_TOKENS = {"emails": "<EMAIL>", "phones": "<PHONE>", "ssns": "<SSN>"}
# fixed application order — counts are taken on the text as it stands
# BEFORE each pattern's replacement, so the oracle can chain the exact
# same rewrite sequence (ordering matters only when patterns overlap;
# the replacement tokens contain no digits or '@', so a rewrite can
# never create a fresh match for a later pattern)
REDACT_ORDER = ("emails", "phones", "ssns")


def pii_redact(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_redactions): the transform companion of
    ``pii_scan`` — one JVM expression chain replaces every email /
    phone / SSN match with a typed placeholder token and counts the
    rewrites, producing the redacted corpus a training-data pipeline
    actually ships (the scan only counts). URLs are left in place:
    boilerplate signal, not PII (same rule as ``pii_scan``).

    Shape: pure whole-stage-codegen string expressions over a single
    scan — no shuffle, no UDF; scales like any projection. The
    redacted text re-scans to ZERO hits for the three PII patterns
    (pytest property)."""
    cur = F.col("text")
    counts = []
    for name in REDACT_ORDER:
        pat = PII_PATTERNS[name]
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).alias(f"_c_{name}")
        )
        cur = F.regexp_replace(cur, pat, REDACT_TOKENS[name])
    out = docs.select("doc_id", cur.alias("clean_text"), *counts)
    total = sum(
        (F.col(f"_c_{name}") for name in REDACT_ORDER), F.lit(0)
    )
    return out.select(
        "doc_id", "clean_text", total.cast("int").alias("n_redactions")
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """(text_hash=md5, rep_doc_id, n_dups): exact dedup by content."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


SUBDUP_K = 5  # substring-dedup shingle width (tokens)


def substring_dedup_spans(docs: DataFrame, k: int = SUBDUP_K) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 —
    the ExactSubstr pass): (doc_id, span_start, span_end, n_shingles)
    = the MAXIMAL token spans of each document whose every k-token
    window also occurs elsewhere in the corpus (another document OR
    another position of the same document). These are the per-doc
    REMOVAL OFFSETS (token units, start inclusive / end exclusive) a
    pipeline cuts before training: doc-level dedup (MinHash / SimHash /
    embedding) cannot catch a shared 200-token license block inside two
    otherwise-distinct documents — this operator bounds it exactly.

    Algorithm (the distributed-friendly shingle-chain equivalent of the
    paper's suffix array): k-token shingles with positions -> global
    duplicated-shingle set (count > 1) -> per-doc covered positions ->
    merge runs whose k-windows overlap or touch (next_pos <= pos + k)
    into maximal spans.

    Shape at 100 TB: one HOF shingle build in the scan (no explode
    until positions are needed), ONE map-side-combined groupBy for the
    duplicate set, one semi-join back (both sides keyed by the 8-byte
    xxhash64 of the shingle — shuffling ~k-token shingle STRINGS would
    multiply shuffle bytes by ~k; collision contract: two distinct
    shingles sharing a 64-bit hash would over-mark a span, expected
    collisions ~n^2/2^65 — <1e-4 even at 10^9 distinct shingles, and a
    span is only ever extended, never missed), then per-DOC windows
    (lag + running sum islands — partitioned by doc_id, never a global
    sort). The oracle twin groups by the shingle string itself, exact
    at check scale."""
    t = docs.select("doc_id", _toks().alias("toks")).where(F.size("toks") >= k)
    pos = t.select(
        "doc_id", F.posexplode(ngram_array(F.col("toks"), k)).alias("pos", "shingle")
    ).select("doc_id", "pos", F.xxhash64("shingle").alias("sh"))
    dup = (
        pos.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("sh")
    )
    cov = pos.join(dup, "sh", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") > F.lag("pos").over(w) + k),
        1,
    ).otherwise(0)
    isl = cov.select(
        "doc_id", "pos",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("island"),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + k).cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
        )
        .select("doc_id", "span_start", "span_end", "n_shingles")
    )


def substring_dedup_sql(rel: str = "documents", k: int = SUBDUP_K) -> str:
    """DuckDB twin of substring_dedup_spans (1-based subscripts mapped
    to the operator's 0-based token offsets; duplicate set keyed by the
    shingle STRING — exact, the right choice at check scale)."""
    return f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM {rel}
          WHERE len(string_split(text, ' ')) >= {k}),
        sh AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(toks[i : i + {k - 1}], ' ') AS shingle
          FROM (SELECT doc_id, toks,
                       unnest(range(1, len(toks) - {k} + 2)) AS i
                FROM t)),
        dup AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) > 1),
        cov AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (shingle)),
        isl AS (
          SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                          OR pos > lag(pos) OVER w + {k}
                        THEN 1 ELSE 0 END AS brk
            FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)))
        SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
               CAST(max(pos) + {k} AS INT) AS span_end,
               CAST(count(*) AS INT) AS n_shingles
        FROM isl GROUP BY doc_id, island
    """


def build_vocab(docs: DataFrame, max_size: int = 1_000_000) -> DataFrame:
    """A5 vocab build (run_lstm.py:332-344): token frequency top-N with
    special ids 0=[PAD], 1=[UNK]; real tokens get ids from 2, ordered
    (count desc, token asc) for partition-invariant determinism.

    The dense global id is assigned DISTRIBUTIVELY (range partition +
    per-partition offsets, functions/ranking.py) — a global
    ``row_number() OVER (ORDER BY ...)`` window would funnel the whole
    token-count table through one task (Exchange SinglePartition), the
    one scale smell the registry-wide plan-hygiene test forbids."""
    from denrl_spark.functions.ranking import with_global_row_number

    counts = (
        docs.select(F.explode(_toks()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = with_global_row_number(
        counts, [F.desc("cnt"), F.asc("token")], out_col="_rn"
    )
    return (
        ranked.withColumn("token_id", (F.col("_rn") + 2).cast("int"))
        .where(F.col("token_id") < max_size + 2)
        .select("token", "token_id", "cnt")
    )


def encode_tokens(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """M6 word->id encode (run_lstm.py:287-299): (doc_id, pos, token_id)
    with UNK=1 fallback, via broadcast join on the vocab (never a Python
    dict lookup UDF)."""
    t = docs.select("doc_id", F.posexplode(_toks()).alias("pos", "tok"))
    v = F.broadcast(vocab.select(F.col("token").alias("tok"), "token_id"))
    return t.join(v, "tok", "left").select(
        "doc_id",
        "pos",
        F.coalesce("token_id", F.lit(1)).cast("int").alias("token_id"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, rank, token, tfidf_e6): per-document top-k terms by
    tf·idf — the term-salience primitive behind keyword-based curation
    and topic balancing in training-data pipelines. idf = ln(N/df),
    integer-scaled floor(1e6·tf·idf) for oracle-exact hashing (ties
    broken token-asc). Shape: one explode + two map-side-combined
    aggregations + a broadcast-joinable df table (vocab-sized) + one
    window per doc — no self-joins."""
    t = docs.select("doc_id", F.explode(_toks()).alias("token"))
    tf = t.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select("doc_id").distinct().count()
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        F.floor(1_000_000 * F.col("tf") * F.log(F.lit(float(n)) / F.col("df")))
        .cast("long")
        .alias("tfidf_e6"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_e6"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "token", "tfidf_e6")
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, lp_e4): corpus-unigram-LM score per document —
    the KenLM-style perplexity filter of a curation pipeline, with the
    corpus itself as the LM. Each token contributes
    floor(1e4·ln(cnt/T)); terms are integer-scaled BEFORE the sum so
    the aggregate is an associative integer sum — immune to the
    float-summation-order divergence that would break cross-engine
    hash equality. Counts ride a broadcast join (vocab-sized)."""
    t = docs.select("doc_id", F.explode(_toks()).alias("token"))
    # counts computed ONCE (eager checkpoint): it feeds both the total
    # (sum over the vocab-sized frame — no extra corpus scan) and the
    # broadcast join below; a plain t.count() for the total would be a
    # third full explode pass over the corpus
    counts = (
        t.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint()
    )
    total = counts.agg(F.sum("cnt")).collect()[0][0]
    term = F.floor(10_000 * F.log(F.col("cnt") / F.lit(float(total)))).cast("long")
    return (
        t.join(F.broadcast(counts), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum(term).alias("lp_e4"),
        )
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle): token 3-grams built with array higher-order
    functions (transform over an index sequence + element_at) — stays
    inside the scan stage with NO shuffle, unlike the window-lead
    formulation (the per-doc window sort was the dominant cost of every
    MinHash/Jaccard query)."""
    return docs.select(
        "doc_id", F.explode(ngram_array(_toks(), n)).alias("shingle")
    )


def distinct_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle), deduplicated — row-identical to
    ``shingles(docs).distinct()`` but WITHOUT the global distinct
    exchange: (doc_id, shingle) uniqueness is per-doc-keyed, so
    ``array_distinct`` before the explode does the whole job inside the
    scan stage (r6, guide §2.4 — a `distinct` on data that is already
    unique per partition key is an accidental shuffle)."""
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(ngram_array(_toks(), n))).alias("shingle"),
    )


def distinct_gram_docs(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, grams): the per-doc DISTINCT shingle ARRAY — the columnar
    twin of ``distinct_shingles`` (``explode(grams)`` yields exactly its
    rows; docs with < n tokens keep an empty array). The array layout is
    the cheaper thing to materialize (localCheckpoint writes n_docs rows
    instead of n_docs x shingles/doc) and lets downstream consumers read
    per-doc set sizes (``size(grams)``) and minhash signatures directly
    off the checkpoint with ZERO aggregation exchanges (r6b, guide §2.4).
    The one input layout of the candidate-pruned dedup family
    (``lsh_candidate_pairs``, ``pair_overlap``)."""
    return docs.select(
        "doc_id", F.array_distinct(ngram_array(_toks(), n)).alias("grams")
    )


def minhash_band_array(grams: F.Column, n_bands: int = N_BANDS) -> F.Column:
    """All ``n_bands`` band-min md5s of a gram-array column as ONE array
    expression: a single ``aggregate`` fold whose accumulator is the
    elementwise running ``least`` of per-gram hash vectors. The input
    column is evaluated ONCE per row (the r6 per-band-column experiment
    was 2x slower precisely because CollapseProject re-evaluated the
    gram build once per band — the fold sidesteps that without needing a
    materialization barrier). Elements are NULL iff the array is empty
    (``least`` skips nulls; md5 of a string is never null)."""

    def hashes(g: F.Column) -> F.Column:
        return F.array(
            *[F.md5(F.concat_ws(":", F.lit(str(b)), g)) for b in range(n_bands)]
        )

    return F.aggregate(
        grams,
        F.array_repeat(F.lit(None).cast("string"), n_bands),
        lambda acc, g: F.zip_with(acc, hashes(g), lambda a, h: F.least(a, h)),
    )


def minhash_from_grams(gd: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band, mh) from a (doc_id, grams) frame with NO exchange:
    the band-min fold runs per row in the scan stage and ``posexplode``
    unpivots the result (one generator, one evaluation — no stack over
    aliased columns, which CollapseProject would inline n_bands times).
    Row-identical to a groupBy(doc_id) band-min over the exploded
    shingles: min over a set equals min over any multiset with that
    support, and the post-explode null filter drops exactly the
    shingle-less docs such a groupBy never emits (fingerprint-verified
    at sf0.01/0.1/sf1; tests/test_round6_gram_arrays.py keeps the
    groupBy as its reference). The one signature fold of the batch
    dedup family; ``minhash_signature_cols`` is the per-row streaming
    twin."""
    return (
        gd.select(
            "doc_id",
            F.posexplode(minhash_band_array(F.col("grams"), n_bands)).alias(
                "band", "mh"
            ),
        )
        .where(F.col("mh").isNotNull())
    )


def minhash_signature_cols(
    df: DataFrame, text_col: str = "text", n_bands: int = N_BANDS
) -> DataFrame:
    """Adds per-ROW minhash signature columns mh0..mh{n-1}: band b =
    min over the row's shingles of md5('b:shingle'), computed entirely
    with array higher-order functions — NO aggregation, so the operator
    is legal in Structured Streaming (stateless projection) and equals
    the groupBy band-min of ``minhash_signatures`` row-for-row (min
    over a multiset == min over its set; test-asserted). Rows with < 3
    tokens have no shingles; their bands fall back to md5(text) (an
    exact-content signature) so null never matches null. The bands come
    from the batch family's one signature fold (``minhash_band_array``),
    evaluated once per row into a helper column."""
    grams = ngram_array(F.split(F.col(text_col), " "), 3)
    fallback = F.md5(F.col(text_col))
    return (
        df.withColumn("_mh", minhash_band_array(grams, n_bands))
        .withColumns(
            {f"mh{b}": F.coalesce(F.col("_mh")[b], fallback) for b in range(n_bands)}
        )
        .drop("_mh")
    )


def band_stack_expr(n_bands: int) -> F.Column:
    """Unpivot mh0..mh{n-1} signature columns to long (band, mh) rows —
    shared by every consumer of the wide per-row signature layout."""
    pairs = ", ".join(f"{b}, mh{b}" for b in range(n_bands))
    return F.expr(f"stack({n_bands}, {pairs}) AS (band, mh)")


def minhash_signatures(docs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band, mh): per-band min-wise hash over shingles; the hash
    family is md5('band:shingle') compared lexicographically — identical
    in Spark and DuckDB, so oracle-exact.

    Shape (r6b): ``minhash_from_grams`` over ``distinct_gram_docs`` —
    a per-row band-min fold + posexplode, ZERO exchanges; the signature
    is a pure projection of the scan stage. Min over the distinct set
    equals min over the raw shingle multiset, so the rows equal the
    older groupBy(doc_id) band-min agg (fingerprint-verified at three
    scales) without its exchange."""
    return minhash_from_grams(distinct_gram_docs(docs), n_bands)


LSH_BUCKET_CAP = 32  # pairwise-join buckets up to this size; star-link above


def lsh_candidate_pairs(
    gd: DataFrame, n_bands: int = N_BANDS, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """(doc_a, doc_b): pairs sharing any minhash band bucket. The join is
    on (band, mh) — the bucketed equi-join that replaces the O(n^2)
    all-pairs comparison at scale. ``gd`` is the (doc_id, grams)
    distinct-gram-array frame (``distinct_gram_docs``; often the
    checkpoint shared with the verify stage); its signatures are the
    zero-exchange ``minhash_from_grams`` fold.

    Bucket fan-out is CAPPED: a degenerate bucket — millions of
    identical boilerplate docs landing on one (band, mh) — would emit
    |bucket|^2 candidate rows from the pairwise self-join, the one
    remaining quadratic shape on real web corpora. Buckets larger than
    ``bucket_cap`` are instead STAR-LINKED to the bucket's min doc_id
    (|bucket|-1 rows: a star keeps the bucket connected). Small
    buckets keep the exact pairwise semantics.

    Recall contract of the cap (precise, not overclaimed): in the
    degenerate-boilerplate regime that motivates it — near-identical
    members — hub edges pass the downstream Jaccard verify, so
    post-verify connectivity is preserved. In the adversarial case (an
    oversized bucket via band-min collision whose hub is DISSIMILAR to
    two similar members m1, m2), the (m1, m2) hub path can die at
    verify; the pair is still emitted pairwise through any OTHER band
    they share whose bucket is small (each band co-buckets them with
    probability J(m1,m2)), so a high-similarity pair is lost only if
    EVERY one of its shared bands is oversized — vanishing for
    n_bands=8 on real corpora, and the standard production trade
    (exact-dedup first, cap what remains).

    The small-bucket self-join carries shuffle_hash hints: both sides
    descend from a localCheckpoint whose RDD scan reports bogus size
    estimates, and a statically-planned broadcast of a corpus-sized
    signature table (the kg_edges incident, plans/docs_kg.py) cannot be
    reverted by AQE — the hint pins the scale-safe shuffle join; AQE
    skew splitting still handles the degenerate bucket. Per-bucket
    stats are count/min windows sharing one (band, mh) exchange (r6;
    the former groupBy+join shape shuffled the signature table twice)."""
    sig = minhash_from_grams(gd, n_bands)
    # Bucket stats as count/min windows over ONE (band, mh) exchange —
    # the r5 groupBy+equi-join formulation shuffled the signature table
    # by (band, mh) twice (once for the agg, once for the join) and
    # needed the join pinned with shuffle_hash hints plus an extra
    # checkpoint barrier; the window shape computes the same (_bsz,
    # _bmin) per row in one pass (guide §2.4: operations keyed the same
    # way share one exchange). Window partitions are LSH buckets —
    # bounded by the corpus's bucket distribution, with the degenerate
    # boilerplate bucket exactly the case bucket_cap exists for.
    # With the stats folded into the window, the raw signature table has
    # exactly ONE consumer, so the r5 pre-window localCheckpoint is
    # gone too; the single barrier below covers the three remaining
    # subtrees (self-join sides + star branch) — without it the gram
    # scan + band-min fold would run 3x (ReuseExchange does not fire
    # across their different downstream partitionings). sig is
    # n_docs x n_bands rows — checkpoint-cheap at any scale next to
    # recomputing the shingle pipeline.
    w = Window.partitionBy("band", "mh")
    sig = (
        sig.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .withColumn("_bmin", F.min("doc_id").over(w))
        .localCheckpoint()
    )
    small = sig.where(F.col("_bsz") <= bucket_cap)
    a = small.hint("shuffle_hash").alias("a")
    b = small.hint("shuffle_hash").alias("b")
    pairs_small = (
        a.join(b, ["band", "mh"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    pairs_big = sig.where(
        (F.col("_bsz") > bucket_cap) & (F.col("doc_id") != F.col("_bmin"))
    ).select(F.col("_bmin").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return pairs_small.unionByName(pairs_big).distinct()


def pair_overlap(cand: DataFrame, gd: DataFrame) -> DataFrame:
    """(doc_a, doc_b, shared, na, nb): for each CANDIDATE pair, the
    number of distinct 3-grams the two docs share and each doc's
    distinct-gram count, read off the (doc_id, grams) gram-array frame
    ``gd`` (``distinct_gram_docs``). The one overlap join behind every
    candidate-pruned verify of the dedup family (Jaccard and
    containment): the shingle joins are candidate-pruned (each pair
    contributes only its own shingle rows), so cost scales with
    |candidates| x shingles/doc, never with |docs|^2 and never with the
    hot-shingle square that the unfiltered shared-shingle self-join
    risks. The shingle rows are ``explode(grams)`` in the scan stage;
    the sizes are ``size(grams)`` projections with no aggregation
    (docs with no grams have size 0 and never reach the inner joins —
    candidate endpoints share a gram)."""
    sh = gd.select("doc_id", F.explode("grams").alias("shingle"))
    sizes = gd.select("doc_id", F.size("grams").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"),
            "doc_b",
        )
        .select("doc_a", "doc_b", "shared", "na", "nb")
    )


def jaccard_verify_pairs(
    cand: DataFrame, gd: DataFrame, min_j_e6: int = 200_000
) -> DataFrame:
    """(doc_a, doc_b, j_e6): exact distinct-3-gram Jaccard re-score of
    CANDIDATE pairs — the verify stage that follows candidate
    generation, one projection over ``pair_overlap(cand, gd)``."""
    j_e6 = F.floor(
        1_000_000 * F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    ).cast("long")
    o = pair_overlap(cand, gd).withColumn("j_e6", j_e6)
    return o.where(F.col("j_e6") >= min_j_e6).select("doc_a", "doc_b", "j_e6")


def jaccard_pairs_pruned(
    docs: DataFrame, min_j_e6: int = 200_000, n_bands: int = N_BANDS
) -> DataFrame:
    """The full candidate-pruned Jaccard pipeline: LSH candidates
    (``lsh_candidate_pairs``) re-scored exactly (``jaccard_verify_pairs``),
    both read off ONE eagerly localCheckpoint-ed gram-array table
    (``distinct_gram_docs`` — n_docs rows; two subtrees of one DAG,
    without the barrier each recomputes the shingle scan). Building it
    runs only the jobs of two barriers, this checkpoint and the
    candidate stage's (test-asserted). The verify is the
    candidate-pruned explode join at every scale: a set-array
    intersection verify returned the same rows but was slower at both
    sf0.1 and sf1 on a 4-core box (local[4]). Blocks are released by
    the context cleaner once the query's RDD goes out of scope."""
    gd = distinct_gram_docs(docs).localCheckpoint()
    return jaccard_verify_pairs(lsh_candidate_pairs(gd, n_bands), gd, min_j_e6)


def near_dup_clusters(
    docs: DataFrame, min_j_e6: int = 300_000, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, rep_doc_id, is_rep): near-duplicate clustering with
    representative selection — the keep-list a dedup pipeline actually
    applies. Composition: MinHash-LSH candidate pairs (bucketed
    equi-join) -> exact Jaccard verify (candidate-pruned; both are
    ``jaccard_pairs_pruned``) -> connected components over verified
    pairs (min-label propagation, linking.connected_components) ->
    representative = min doc_id per component; docs with no near-dup
    are their own representative.

    100 TB shape: every stage is a bucketed join or a map-side-combined
    aggregation; component propagation is O(diameter) rounds and near-dup
    graphs are short chains/cliques in practice."""
    from denrl_spark.operators.linking import connected_components

    verified = jaccard_pairs_pruned(docs, min_j_e6, n_bands)
    nodes = docs.select(F.col("doc_id").alias("node_id"))
    edges = verified.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(nodes, edges)
    return comp.select(
        F.col("node_id").alias("doc_id"),
        F.col("component").alias("rep_doc_id"),
        (F.col("node_id") == F.col("component")).alias("is_rep"),
    )


def near_dedup_greedy(
    docs: DataFrame,
    ord_cols: list[str],
    n_bands: int = N_BANDS,
    prior_claims: DataFrame | None = None,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Greedy first-wins LSH near-dedup keep-list: a row is KEPT iff it
    is the first claimant — by the total order ``ord_cols`` — of EVERY
    one of its ``n_bands`` per-row minhash band buckets
    (minhash_signature_cols). This is the HIGH-SUPPRESSION end of the
    near-dup family: any shared band-min with an earlier row counts as
    a near-dup WITHOUT Jaccard verification (per-band collision
    probability ~= J, so modestly-similar rows collide somewhere and
    are dropped — on a small-vocabulary corpus most rows are). Use
    dedup_stream's exact hash or the full-signature streaming rule for
    high precision, or the verified near_dup_clusters keep-list for
    calibrated thresholds; use THIS rule when over-dropping is cheaper
    than boilerplate (the aggressive web-crawl ingest regime). Every
    row claims its buckets regardless of its own keep verdict, which
    makes the rule PREFIX-CONSISTENT:
    processing a time-ordered corpus batch-by-batch with carried-over
    claims yields exactly the same keep-list as one pass over the whole
    corpus — the equality the streaming twin
    (streaming.ingest.stream_near_dedup_keep) test asserts.

    Returns (kept_rows, claims) where claims is the distinct
    (band, mh, ts) bucket set this input claimed (ts = the claiming
    row's first ord field, for horizon eviction by the streaming
    caller).

    100 TB shape: one stateless signature projection, one
    map-side-combined groupBy per bucket, one bucketed equi-join back,
    one per-row flag aggregation — no pairwise joins anywhere, state
    (claims) is one row per distinct bucket.

    ``ord_cols`` is the row's PRIMARY KEY (non-null): rows sharing the
    full key are the same logical record double-delivered, and are
    collapsed to one up front (dropDuplicates on the key) — without the
    collapse, tied rows would sum their per-bucket flags past n_bands
    and ALL copies would vanish from the keep-list. Rows with a NULL
    key field have no defined position in the total order and are
    dropped by the null-unsafe key join; feed them a surrogate key
    upstream if they matter."""
    ord_struct = F.struct(*[F.col(c) for c in ord_cols])
    base = docs.dropDuplicates(list(ord_cols)).withColumn("_ord", ord_struct)
    sig = minhash_signature_cols(base, text_col, n_bands)
    long = sig.select("_ord", band_stack_expr(n_bands))
    wins = long.groupBy("band", "mh").agg(F.min("_ord").alias("_win"))
    flags = long.join(wins, ["band", "mh"])
    if prior_claims is not None:
        flags = flags.join(
            prior_claims.select("band", "mh").distinct().withColumn(
                "_claimed", F.lit(1)
            ),
            ["band", "mh"],
            "left",
        )
    else:
        flags = flags.withColumn("_claimed", F.lit(None).cast("int"))
    ok = (F.col("_claimed").isNull() & (F.col("_ord") == F.col("_win"))).cast("int")
    ok_rows = (
        flags.withColumn("_ok", ok)
        .groupBy("_ord")
        .agg(F.sum("_ok").alias("_n_ok"))
        .where(F.col("_n_ok") == n_bands)
        .select("_ord")
    )
    kept = base.join(ok_rows, "_ord").drop("_ord")
    claims = wins.select(
        "band", "mh", F.col("_win")[ord_cols[0]].alias("ts")
    )
    return kept, claims


def jaccard_pairs(docs: DataFrame, min_j_e6: int = 200_000) -> DataFrame:
    """(doc_a, doc_b, j_e6): distinct-3-gram Jaccard >= threshold, via
    shared-shingle counting (no cross join: the shingle equi-join prunes
    to pairs that share at least one shingle)."""
    sh = distinct_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    j = (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn(
            "j_e6",
            F.floor(1_000_000 * F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))).cast("long"),
        )
    )
    return j.where(F.col("j_e6") >= min_j_e6).select("doc_a", "doc_b", "j_e6")


PREFIX_JOIN_MIN_J_E6 = 500_000  # Jaccard >= 0.5; the prefix rule below is derived for this t


def prefix_join_pruned(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, j_e6): EXACT set-similarity self-join at Jaccard
    >= 0.5 via prefix filtering (SSJoin, Chaudhuri et al. ICDE 2006;
    All-Pairs, Bayardo et al. WWW 2007; PPJoin, Xiao et al. WWW 2008)
    — the deterministic companion to MinHash-LSH: the same output
    contract as ``jaccard_pairs`` at t = 0.5 but with recall 1.0 BY
    THEOREM instead of by corpus measurement, so the unpruned exact SQL
    oracle matches by construction on every input.

    Rule: order each doc's distinct shingles by the GLOBAL (df, shingle)
    order (rarest first) and keep its first n - ceil(t*n) + 1 =
    n DIV 2 + 1 as the doc's PREFIX. The SSJoin prefix lemma: if
    J(A,B) >= t then |A and B| >= ceil(t * max(|A|,|B|)) >= each doc's
    ceil(t*n), and two sets whose overlap is >= alpha must collide
    within their first n - alpha + 1 elements under any shared total
    order — so every qualifying pair shares a PREFIX shingle and the
    candidate set from the prefix-only equi-join is complete. Exact
    verify (``jaccard_verify_pairs``) re-scores candidates only. The
    df/prefix stages and the verify read one eagerly localCheckpoint-ed
    gram-array table (``distinct_gram_docs``, same barrier rationale as
    ``jaccard_pairs_pruned``); the exploded shingles are re-derived
    from it in the scan stage.

    100 TB shape: the df table is a map-side-combined aggregate; the
    per-doc prefix rank is a doc-partitioned window (state bounded by
    the 512-token doc cap, F1); candidate fan-out is bounded by the
    inverted-list length of PREFIX shingles, and rarest-first ordering
    biases prefixes away from hot boilerplate shingles (a hot shingle
    enters a doc's prefix only when over half that doc's shingles are
    globally hotter). Degenerate corpora (thousands of identical docs)
    still pair up quadratically — that is the EXACT answer this
    operator contracts to return; the capped probabilistic path for
    that regime is ``lsh_candidate_pairs``/``near_dedup_greedy``."""
    gd = distinct_gram_docs(docs).localCheckpoint()
    sh = gd.select("doc_id", F.explode("grams").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("rnk", F.row_number().over(w.orderBy("df", "shingle")))
        .withColumn("n_sh", F.count(F.lit(1)).over(w))
    )
    pref = ranked.where(F.col("rnk") <= F.expr("n_sh DIV 2") + F.lit(1))
    a = pref.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = pref.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return jaccard_verify_pairs(cand, gd, PREFIX_JOIN_MIN_J_E6)


CONTAINMENT_DF_CAP = 16


def containment_pairs(
    docs: DataFrame, min_c_e6: int = 500_000, df_cap: int = CONTAINMENT_DF_CAP
) -> DataFrame:
    """(doc_a, doc_b, shared, na, nb, cont_e6): shingle CONTAINMENT
    pairs — cont = |A∩B| / min(|A|,|B|) over distinct 3-gram sets. The
    asymmetric companion of Jaccard dedup: a short doc quoted wholesale
    inside a much longer one (reply chains, license blocks re-wrapped
    in new files, doc-in-doc crawl artifacts) has containment ~1 but
    Jaccard ~|A|/|B| ~ 0, so MinHash-LSH (which approximates Jaccard)
    structurally cannot surface it (Broder 1997 distinguishes exactly
    these two resemblance notions).

    Candidate generation therefore does NOT use MinHash: candidates are
    pairs sharing at least one RARE shingle (document frequency in
    [2, df_cap], inverted-index-with-df-cut). Cost is sum over rare
    shingles of df^2 <= df_cap x total shingle occurrences — linear in
    the corpus, never |docs|^2, and hot boilerplate shingles (df >
    df_cap) generate no candidates. Recall contract: a pair is found
    iff it shares >= 1 rare shingle. Contained documents share ALL of
    the smaller doc's shingles, so any non-boilerplate line in the
    quoted block suffices; pairs whose overlap is 100% corpus-wide
    boilerplate are exactly the substring-dedup family's job
    (text_substring_dedup). The verify stage re-scores candidates
    exactly over FULL shingle sets (``pair_overlap``, the same
    candidate-pruned join as jaccard_verify_pairs).
    """
    # gram-ARRAY checkpoint (see jaccard_pairs_pruned) — the exploded
    # layout the rare-shingle joins need is re-derived in the scan stage.
    gd = distinct_gram_docs(docs).localCheckpoint()
    sh = gd.select("doc_id", F.explode("grams").alias("shingle"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("shingle")
    )
    rsh = sh.join(rare, "shingle")
    cand = (
        rsh.alias("a")
        .join(rsh.alias("b"), F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    out = pair_overlap(cand, gd).withColumn(
        "cont_e6",
        F.floor(1_000_000 * F.col("shared") / F.least("na", "nb")).cast("long"),
    )
    return out.where(F.col("cont_e6") >= min_c_e6).select(
        "doc_a", "doc_b", F.col("shared").cast("bigint").alias("shared"),
        F.col("na").cast("bigint").alias("na"), F.col("nb").cast("bigint").alias("nb"),
        "cont_e6",
    )


def contamination_scan(train: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: per training doc, how many of its
    distinct 3-gram shingles appear anywhere in the benchmark (eval)
    corpus — (doc_id, n_shingles, n_hit, contam_e6). Docs shorter than
    one shingle (<3 tokens) emit no row (nothing to test).

    Shape for 100 TB training x MB-GB benchmark: the benchmark's
    distinct shingle set is the SMALL side — no explicit broadcast
    hint, because a hint would OVERRIDE the planner and fail outright
    ('cannot broadcast >8GB') on an oversized benchmark; left to AQE,
    the join broadcasts whenever the benchmark is genuinely small
    (runtime stats) and degrades to a shuffle join keyed on the
    shingle — the same plan dedup uses — when it is not."""
    t_sh = distinct_shingles(train)
    b_sh = (
        shingles(benchmark).select("shingle").distinct().withColumn("hit", F.lit(1))
    )
    return (
        t_sh.join(b_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .withColumn(
            "contam_e6",
            F.floor(1_000_000 * F.col("n_hit") / F.col("n_shingles")).cast("long"),
        )
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, per doc with >= 3
    tokens: (doc_id, n_tokens, top2_e6, dup3_e6) where top2_e6 is the
    token fraction covered by the single most frequent 2-gram
    (2 * max-count / n_tokens) and dup3_e6 the fraction of 3-gram
    occurrences that are repeats ((total - distinct) / total).

    Entirely per-row array HOFs inside the scan stage — the max-run
    count runs over the SORTED gram array with one aggregate() fold
    (prev/run/best accumulator), so the operator needs NO shuffle, no
    explode, and no Python: it scales with input bandwidth alone.

    top2_e6 counts OVERLAPPING occurrences (a token run 'x x x x' has
    three 'x x' bigrams), so 2*maxc can exceed n — the ratio is capped
    at 1e6 to keep the fraction contract for downstream validators."""
    toks = _toks()

    def max_run(sorted_arr):
        init = F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        )
        return F.aggregate(
            sorted_arr,
            init,
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc.best,
                    F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc.best,
        )

    g2, g3 = ngram_array(toks, 2), ngram_array(toks, 3)
    n = F.size(toks)
    tot3 = F.size(g3)
    return docs.where(F.size(toks) >= 3).select(
        "doc_id",
        n.alias("n_tokens"),
        F.least(
            F.lit(1_000_000),
            F.floor(1_000_000 * 2 * max_run(F.array_sort(g2)) / n),
        )
        .cast("long")
        .alias("top2_e6"),
        F.floor(1_000_000 * (tot3 - F.size(F.array_distinct(g3))) / tot3)
        .cast("long")
        .alias("dup3_e6"),
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, lp2_e4): corpus-bigram-LM score per document
    — the second-order companion of ``unigram_logprob`` (a KenLM-style
    fluency filter that, unlike the unigram, penalizes scrambled
    word order). Each adjacent token pair contributes
    floor(1e4 · ln(c(w1 w2) / c(w1 ·))) where c(w1 ·) is the bigram-
    PREFIX count, i.e. the conditional probability P(w2|w1) estimated
    from the corpus itself. Terms are integer-scaled BEFORE the sum
    (associative integer aggregate — order/partitioning invariant,
    hash-oracle-able), the same discipline as the unigram scorer.

    Cost shape: one corpus scan to build bigrams (array HOFs in the
    scan stage, no shuffle), ONE bigram-count aggregation (map-side
    combined, checkpointed — it feeds both the prefix rollup and the
    per-bigram term table). The term join back is a PLAIN equi-join:
    distinct bigrams grow with the corpus (Heaps' law), so unlike the
    genuinely vocab-sized unigram table a forced broadcast would be an
    unbounded-broadcast hazard at production scale — AQE promotes it
    to a broadcast at test scale on its own. Docs with < 2 tokens
    contribute no rows (no bigrams), matching the SQL twin's
    lead()-IS-NOT-NULL filter."""
    bg = docs.select(
        "doc_id", F.explode(ngram_array(_toks(), 2)).alias("bigram")
    )
    counts2 = (
        bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt2"))
        .localCheckpoint()
    )
    counts1 = (
        counts2.groupBy(F.split("bigram", " ")[0].alias("w1"))
        .agg(F.sum("cnt2").alias("cnt1"))
    )
    term = (
        counts2.withColumn("w1", F.split("bigram", " ")[0])
        .join(counts1, "w1")
        .select(
            "bigram",
            F.floor(10_000 * F.log(F.col("cnt2") / F.col("cnt1")))
            .cast("long").alias("term"),
        )
    )
    return (
        bg.join(term, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.sum("term").alias("lp2_e4"),
        )
    )


WINNOW_K = 4     # winnowing k-gram width (tokens)
WINNOW_W = 4     # winnowing window (consecutive k-grams)
WINNOW_POS_CAP = 4096  # kgram index packed into the low 12 bits (<=512-token docs, F1)


def winnow_fingerprints(docs: DataFrame, k: int = WINNOW_K,
                        w: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): per doc the SELECTED k-gram hashes — in every
    window of w consecutive k-gram hashes keep the minimum, rightmost
    position on ties. Output (doc_id, kpos, fp) with kpos the 1-based
    token position of the selected k-gram. The guarantee local dedup
    needs: any token run of length >= w + k - 1 shared by two documents
    yields at least one SHARED fingerprint, while only ~2/(w+1) of
    k-grams are kept — the index-size/recall dial between exact
    substring dedup (all shingles) and doc-level MinHash (no locality).

    Shape: built entirely with HOFs inside the scan stage — k-grams
    via ngram_array, the (hash, position) pair packed into ONE bigint
    (48-bit md5 prefix * 4096 + (4095 - kpos), so bigint MIN is
    exactly the (min hash, rightmost tie) winnowing rule), trailing
    window minima via transform+slice+array_min, dedup via
    array_distinct — zero Exchange until the caller aggregates. The
    DuckDB twin states the identical packed recurrence with lead() +
    a trailing window min (winnowing IS a window min — the same
    band-join trick family as rel_range_join)."""
    toks = _toks()
    kg = ngram_array(toks, k)
    packed = F.transform(
        kg,
        lambda g, i: (
            F.conv(F.substring(F.md5(g), 1, 12), 16, 10).cast("bigint")
            * WINNOW_POS_CAP
            + (F.lit(WINNOW_POS_CAP - 1) - (i + 1))
        ),
    )
    d = docs.select("doc_id", packed.alias("pk"))
    n_kg = F.size("pk")
    sel = F.when(
        n_kg >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.least(F.lit(w), n_kg), n_kg),
                lambda j: F.array_min(
                    F.slice(F.col("pk"), F.greatest(F.lit(1), j - w + 1),
                            j - F.greatest(F.lit(1), j - w + 1) + 1)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        d.select("doc_id", F.explode(sel).alias("p"))
        .select(
            "doc_id",
            (F.lit(WINNOW_POS_CAP - 1) - F.pmod("p", F.lit(WINNOW_POS_CAP)))
            .cast("bigint").alias("kpos"),
            F.expr(f"p div {WINNOW_POS_CAP}").cast("bigint").alias("fp"),
        )
    )


def winnow_sql(rel: str = "documents", k: int = WINNOW_K,
               w: int = WINNOW_W) -> str:
    """winnow_fingerprints twin: k-gram via lead() concat, the same
    packed-bigint trailing window min, rightmost-tie by construction."""
    leads = " || ' ' || ".join(
        f"lead(tok, {j}) OVER win" for j in range(1, k)
    )
    cap = WINNOW_POS_CAP
    return f"""
        WITH t AS (
          SELECT doc_id,
                 generate_subscripts(string_split(text, ' '), 1) AS pos,
                 unnest(string_split(text, ' ')) AS tok
          FROM {rel}),
        kg AS (
          SELECT doc_id, pos AS kpos, tok || ' ' || {leads} AS gram
          FROM t WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        packed AS (
          SELECT doc_id, kpos,
                 CAST(('0x' || substr(md5(gram), 1, 12)) AS BIGINT)
                   * {cap} + ({cap - 1} - kpos) AS p
          FROM kg WHERE gram IS NOT NULL),
        n AS (SELECT doc_id, count(*) AS n_kg FROM packed GROUP BY 1),
        wmin AS (
          SELECT doc_id, kpos,
                 min(p) OVER (PARTITION BY doc_id ORDER BY kpos
                              ROWS BETWEEN {w - 1} PRECEDING
                                AND CURRENT ROW) AS m
          FROM packed),
        sel AS (
          SELECT DISTINCT wm.doc_id, wm.m
          FROM wmin wm JOIN n USING (doc_id)
          WHERE wm.kpos >= least({w}, n.n_kg))
        SELECT doc_id,
               CAST({cap - 1} - (m % {cap}) AS BIGINT) AS kpos,
               CAST(m // {cap} AS BIGINT) AS fp
        FROM sel
    """


GOPHER_MIN_WORDS = 50          # Rae et al. 2021 C4/Gopher rule subset
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_MIN = 3             # mean word length bounds (chars/word)
GOPHER_MWL_MAX = 10
GOPHER_ALPHA_NUM = 4           # alpha-word ratio >= 4/5 (80%)
GOPHER_ALPHA_DEN = 5
GOPHER_MIN_STOP_HITS = 2       # distinct-occurrence stopword floor


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", §A1.1 rule subset that is meaningful
    on whitespace tokens): per doc the raw counts and each rule's
    verdict, plus the composite keep flag. All thresholds are EXACT
    integer comparisons (mean-word-length bounds as cross-multiplied
    products, ratio floors as scaled integer inequalities) so the
    gate is hash-oracle-able — the division-free form is also what
    you want at 100 TB (no float drift across engines/partitions).

    Rules: word count in [GOPHER_MIN_WORDS, GOPHER_MAX_WORDS]; mean
    word length in [GOPHER_MWL_MIN, GOPHER_MWL_MAX]; >= 80% of words
    contain an alphabetic character; >= GOPHER_MIN_STOP_HITS stopword
    occurrences. Computed entirely with scan-stage HOFs — zero
    shuffle, zero Python."""
    toks = _toks()
    n_words = F.size(toks)
    n_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stops = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, F.lower(t))))
    d = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_chars.alias("n_chars"),
        n_alpha.cast("bigint").alias("n_alpha_words"),
        n_stop.cast("bigint").alias("n_stop_hits"),
    )
    len_ok = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    mwl_ok = (
        F.col("n_chars") >= GOPHER_MWL_MIN * F.col("n_words")
    ) & (F.col("n_chars") <= GOPHER_MWL_MAX * F.col("n_words"))
    alpha_ok = (
        GOPHER_ALPHA_DEN * F.col("n_alpha_words")
        >= GOPHER_ALPHA_NUM * F.col("n_words")
    )
    stop_ok = F.col("n_stop_hits") >= GOPHER_MIN_STOP_HITS
    return d.select(
        "doc_id", "n_words", "n_chars", "n_alpha_words", "n_stop_hits",
        len_ok.cast("int").alias("len_ok"),
        mwl_ok.cast("int").alias("mwl_ok"),
        alpha_ok.cast("int").alias("alpha_ok"),
        stop_ok.cast("int").alias("stop_ok"),
        (len_ok & mwl_ok & alpha_ok & stop_ok).cast("int").alias("keep"),
    )


def gopher_rules_sql(rel: str = "documents") -> str:
    stops = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    return f"""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM {rel}),
        agg AS (
          SELECT doc_id,
                 count(*) AS n_words,
                 CAST(sum(length(tok)) AS BIGINT) AS n_chars,
                 CAST(sum(CASE WHEN regexp_matches(tok, '[A-Za-z]')
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_words,
                 CAST(sum(CASE WHEN lower(tok) IN ({stops})
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_hits
          FROM t GROUP BY 1)
        SELECT doc_id, n_words, n_chars, n_alpha_words, n_stop_hits,
               CAST(n_words >= {GOPHER_MIN_WORDS}
                    AND n_words <= {GOPHER_MAX_WORDS} AS INT) AS len_ok,
               CAST(n_chars >= {GOPHER_MWL_MIN} * n_words
                    AND n_chars <= {GOPHER_MWL_MAX} * n_words AS INT) AS mwl_ok,
               CAST({GOPHER_ALPHA_DEN} * n_alpha_words
                    >= {GOPHER_ALPHA_NUM} * n_words AS INT) AS alpha_ok,
               CAST(n_stop_hits >= {GOPHER_MIN_STOP_HITS} AS INT) AS stop_ok,
               CAST(n_words >= {GOPHER_MIN_WORDS}
                    AND n_words <= {GOPHER_MAX_WORDS}
                    AND n_chars >= {GOPHER_MWL_MIN} * n_words
                    AND n_chars <= {GOPHER_MWL_MAX} * n_words
                    AND {GOPHER_ALPHA_DEN} * n_alpha_words
                        >= {GOPHER_ALPHA_NUM} * n_words
                    AND n_stop_hits >= {GOPHER_MIN_STOP_HITS} AS INT) AS keep
        FROM agg
    """
