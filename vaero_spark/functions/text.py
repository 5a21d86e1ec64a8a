"""Text-analysis primitives for the training-data pipeline operators.

Everything here is a **narrow, per-row column expression** (no shuffle,
no Python row loop): tokenization, shingling, stopword stats, quality
scoring, language-ID, token counting, and winnowing fingerprints are all
built from Spark higher-order array functions (`transform` / `filter` /
`aggregate`), so they stay inside whole-stage codegen and scale linearly
with input splits — the property that matters at 100 TB.

Every primitive has a DuckDB-SQL twin generated from the SAME constants
(seeds, stopword lists, regexes), so the driver's oracle comparison
rebuilds identical values. All arithmetic is integer / string (md5 hex,
counts, basis points) — no float drift between engines.

Reference seed: the reference has no text analytics at all (its Python
layer never touches data, ``/root/reference/vaero/stream.py``); these are
the gap-analysis operators a transcript/training-data pipeline needs
(SURVEY.md §2.6).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared constants (single source of truth for Spark AND the DuckDB oracle)
# ---------------------------------------------------------------------------

TOKEN_SPLIT_RE = " +"

# BPE-ish pre-tokenizer: alpha runs, digit runs, or single non-space symbol
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "que"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic argmax tiebreak
CJK_RE = r"[\x{4e00}-\x{9fff}]"  # RE2 & Java both accept \x{...}

SHINGLE_K = 3  # words per shingle
MINHASH_N = 64  # signature length
MINHASH_BANDS = 16  # 16 bands x 4 rows: threshold ≈ (1/16)^(1/4) ≈ 0.5
WINNOW_W = 4  # winnowing window (shingle hashes per window)

_HEX = "0123456789abcdef"


# ---------------------------------------------------------------------------
# tokenization / shingling
# ---------------------------------------------------------------------------

def tokens(col: str | Column) -> Column:
    """Whitespace tokens, empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(c, TOKEN_SPLIT_RE), "")


def tokens_sql(col: str = "text") -> str:
    return f"list_filter(regexp_split_to_array({col}, ' +'), t -> t != '')"


def shingles(tok: Column, k: int = SHINGLE_K) -> Column:
    """k-word shingles as space-joined strings; a doc shorter than k
    words yields one (short) shingle."""
    n = F.greatest(F.size(tok) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(tok, i, k), " "),
    )


def shingles_sql(tok: str, k: int = SHINGLE_K) -> str:
    return (
        f"list_transform(generate_series(1, greatest(len({tok}) - {k - 1}, 1)), "
        f"i -> array_to_string({tok}[i:i+{k - 1}], ' '))"
    )


# ---------------------------------------------------------------------------
# token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

def token_counts(col: str | Column) -> dict[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_chars": F.length(c).cast("bigint"),
        "n_ws_tokens": F.size(tokens(c)).cast("bigint"),
        "n_bpe_tokens": F.size(
            F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0))
        ).cast("bigint"),
    }


def token_counts_sql() -> str:
    return (
        "CAST(length(text) AS BIGINT) AS n_chars, "
        f"CAST(len({tokens_sql()}) AS BIGINT) AS n_ws_tokens, "
        f"CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens"
    )


# ---------------------------------------------------------------------------
# stopword stats / quality score (integer basis points only)
# ---------------------------------------------------------------------------

def _stop_count(tok: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tok, lambda t: F.array_contains(arr, t)))


def quality_columns(col: str | Column, tok: Column | None = None) -> dict[str, Column]:
    """Deterministic quality heuristics: counts + ratios in basis points.

    quality_bp = min(10000, 2*stop_bp + 10*min(n_tokens, 500)):
    stopword-bearing, reasonably long docs score high — a standard
    cheap pretraining-quality prior, in exact integer arithmetic.

    Pass ``tok`` (a MATERIALIZED token-array column) when tokenization
    is shared with other ops in the same projection — expressions
    inlined into HOF lambdas re-evaluate per element (see the module
    PERFORMANCE RULE), so hot pipelines tokenize once via
    ``with_shingle_arrays``/``withColumn`` and reuse the attribute.
    """
    c = F.col(col) if isinstance(col, str) else col
    tok = tokens(c) if tok is None else tok
    n_tok = F.size(tok).cast("bigint")
    n_stop = _stop_count(tok, STOPWORDS["en"]).cast("bigint")
    # count punct CHARS by stripping the allowed class and measuring
    # what remains — same value as size(regexp_extract_all) (every match
    # is one char) without materializing a per-row match array on the
    # hot path; stripping whole runs leaves the same string in fewer
    # replacements
    n_punct = F.length(F.regexp_replace(c, "[A-Za-z0-9 ]+", "")).cast("bigint")
    stop_bp = F.floor(F.lit(10000) * n_stop / F.greatest(n_tok, F.lit(1))).cast("bigint")
    punct_bp = F.floor(
        F.lit(10000) * n_punct / F.greatest(F.length(c).cast("bigint"), F.lit(1))
    ).cast("bigint")
    quality_bp = F.least(
        F.lit(10000).cast("bigint"),
        F.lit(2) * stop_bp + F.lit(10) * F.least(n_tok, F.lit(500)),
    ).cast("bigint")
    return {
        "n_tokens": n_tok,
        "n_stopwords": n_stop,
        "stop_bp": stop_bp,
        "punct_bp": punct_bp,
        "quality_bp": quality_bp,
    }


def quality_bp_sql(text_col: str = "text") -> str:
    """Just the ``quality_bp`` expression (DuckDB) over an arbitrary
    text column — the single-column form of :func:`quality_sql`,
    shared by the corpus/conversation rollup twins."""
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    tok = tokens_sql(text_col)
    return f"""least(CAST(10000 AS BIGINT),
            2 * CAST(floor(10000.0 * len(list_filter({tok}, t -> list_contains([{sw}], t)))
                           / greatest(len({tok}), 1)) AS BIGINT)
            + 10 * least(CAST(len({tok}) AS BIGINT), 500))"""


def quality_sql() -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    tok = tokens_sql()
    return f"""
      CAST(len({tok}) AS BIGINT) AS n_tokens,
      CAST(len(list_filter({tok}, t -> list_contains([{sw}], t))) AS BIGINT) AS n_stopwords,
      CAST(floor(10000.0 * len(list_filter({tok}, t -> list_contains([{sw}], t)))
                 / greatest(len({tok}), 1)) AS BIGINT) AS stop_bp,
      CAST(floor(10000.0 * len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
                 / greatest(length(text), 1)) AS BIGINT) AS punct_bp,
      least(CAST(10000 AS BIGINT),
            2 * CAST(floor(10000.0 * len(list_filter({tok}, t -> list_contains([{sw}], t)))
                           / greatest(len({tok}), 1)) AS BIGINT)
            + 10 * least(CAST(len({tok}) AS BIGINT), 500)) AS quality_bp
    """


# ---------------------------------------------------------------------------
# language ID (stopword-profile argmax + CJK char class)
# ---------------------------------------------------------------------------

def lang_id(col: str | Column, tok: Column | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    tok = tokens(c) if tok is None else tok
    counts = {lang: _stop_count(tok, words) for lang, words in STOPWORDS.items()}
    m = F.greatest(*counts.values())
    pred = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        pred = F.when(counts[lang] == m, F.lit(lang)).otherwise(pred)
    return F.when(c.rlike(CJK_RE), F.lit("zh")).otherwise(pred)


def lang_id_sql(col: str = "text") -> str:
    tok = tokens_sql(col)

    def cnt(lang: str) -> str:
        sw = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return f"len(list_filter({tok}, t -> list_contains([{sw}], t)))"

    m = f"greatest({', '.join(cnt(lg) for lg in LANG_ORDER)})"
    whens = "\n".join(
        f"WHEN {cnt(lang)} = {m} THEN '{lang}'" for lang in LANG_ORDER[:-1]
    )
    return f"""CASE WHEN regexp_matches({col}, '{CJK_RE}') THEN 'zh'
        {whens} ELSE '{LANG_ORDER[-1]}' END"""


# ---------------------------------------------------------------------------
# vocabulary heavy hitters (token top-k)
# ---------------------------------------------------------------------------

TOPK_TOKENS = 100


def token_topk(df, text_col: str = "text", k: int = TOPK_TOKENS):
    """Top-``k`` most frequent whitespace tokens with a deterministic
    (count DESC, token ASC) tiebreak — the corpus-vocabulary probe every
    training-data pipeline runs before tokenizer/filter decisions.

    Distributed shape: explode → hash-groupBy on token (map-side
    combine collapses each partition to its distinct tokens before the
    shuffle) → distributed top-k (``TakeOrderedAndProject``, never a
    global sort); the rank window runs over the k survivors only."""
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "token").limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def token_topk_sql(table: str = "documents", text_col: str = "text", k: int = TOPK_TOKENS) -> str:
    return f"""
        SELECT token, n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INTEGER) AS rank
        FROM (
          SELECT t.tok AS token, COUNT(*) AS n
          FROM {table}, unnest({tokens_sql(text_col)}) AS t(tok)
          GROUP BY 1
        ) QUALIFY rank <= {k}"""


# ---------------------------------------------------------------------------
# BPE merge induction (adjacent-pair heavy hitters)
# ---------------------------------------------------------------------------

TOPK_MERGES = 50


def pair_merge_topk(df, text_col: str = "text", k: int = TOPK_MERGES):
    """Top-``k`` adjacent-token PAIRS by corpus occurrence count — the
    merge-candidate scoring step of BPE-style tokenizer induction (one
    merge round: the highest-count pair is the next merge; re-run after
    applying merges for the full loop). Counts every occurrence, not
    distinct-per-doc — BPE frequency semantics. Deterministic (count
    DESC, pair ASC) tiebreak.

    Distributed shape: identical to :func:`token_topk` at pair
    granularity — adjacent pairs are exactly 2-token shingles (narrow
    HOF; the token array materialized first per the module PERFORMANCE
    RULE), docs with < 2 tokens contribute nothing (a 2-shingle of a
    short doc has no space and is filtered before the shuffle) →
    map-side-combined groupBy on the pair → distributed top-k
    (``TakeOrderedAndProject``, never a global sort)."""
    from pyspark.sql import Window

    pairs = (
        df.select(shingles(tokens(text_col), 2).alias("_p"))
        .select(F.explode("_p").alias("pair"))
        .filter(F.col("pair").contains(" "))
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), "pair").limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def pair_merge_topk_sql(
    table: str = "documents", text_col: str = "text", k: int = TOPK_MERGES
) -> str:
    sh2 = shingles_sql(tokens_sql(text_col), 2)
    return f"""
        SELECT pair, n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS INTEGER) AS rank
        FROM (
          SELECT p.pr AS pair, COUNT(*) AS n
          FROM {table}, unnest({sh2}) AS p(pr)
          WHERE p.pr LIKE '% %'
          GROUP BY 1
        ) QUALIFY rank <= {k}"""


# ---------------------------------------------------------------------------
# corpus composition report (per-language rollup)
# ---------------------------------------------------------------------------

def corpus_stats(df, text_col: str = "text"):
    """Per-language corpus composition: doc counts, token/char volume,
    mean quality — the report a training-data pipeline produces before
    sampling/filtering decisions. One narrow projection (tokenized once)
    + one hash-groupBy on the predicted language (map-side combine; ≤ a
    handful of groups). All integer arithmetic (mean as a floor'd
    basis-point ratio) for cross-engine parity."""
    tok = tokens(text_col)
    base = df.select(
        F.col(text_col).alias("_t"), tok.alias("_tok")
    ).select(
        lang_id(F.col("_t"), tok=F.col("_tok")).alias("lang"),
        F.size("_tok").cast("bigint").alias("_ntok"),
        F.length("_t").cast("bigint").alias("_nch"),
        quality_columns(F.col("_t"), tok=F.col("_tok"))["quality_bp"].alias("_q"),
    )
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ntok").alias("total_tokens"),
            F.sum("_nch").alias("total_chars"),
            F.floor(F.sum("_q") / F.count(F.lit(1))).cast("bigint").alias("mean_quality_bp"),
        )
    )


def tokenizer_fertility(df, text_col: str = "text"):
    """Per-language TOKENIZER FERTILITY — the tokenizer-audit table of
    an LLM data pipeline: how many subword (BPE-ish regex) tokens the
    tokenizer spends per whitespace word, by language, in basis points
    (``fertility_bp = 10000·Σn_bpe div Σn_ws``). High-fertility
    languages are under-served by the vocabulary (the standard
    multilingual-tokenizer health check); pure BIGINT arithmetic keeps
    it hash-exact cross-engine.

    100 TB shape: tokenize-once narrow projection → ONE
    map-side-combined groupBy(lang); result is language-count-sized.

    Output: (lang, n_docs, ws_tokens, bpe_tokens, fertility_bp).
    """
    tok = tokens(text_col)
    base = df.select(
        F.col(text_col).alias("_t"), tok.alias("_tok")
    ).select(
        lang_id(F.col("_t"), tok=F.col("_tok")).alias("lang"),
        F.size("_tok").cast("bigint").alias("_nws"),
        F.size(
            F.regexp_extract_all(F.col("_t"), F.lit(BPE_TOKEN_RE), F.lit(0))
        ).cast("bigint").alias("_nbpe"),
    )
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nws").alias("ws_tokens"),
        F.sum("_nbpe").alias("bpe_tokens"),
        F.expr(
            "(10000 * sum(_nbpe)) div greatest(sum(_nws), 1)"
        ).alias("fertility_bp"),
    )


def tokenizer_fertility_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin of :func:`tokenizer_fertility` (standalone SELECT);
    SUM cast OUTSIDE (HUGEINT rule), integer division only."""
    lang = lang_id_sql(text_col)
    tok = tokens_sql(text_col)
    return f"""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(nws) AS BIGINT) AS ws_tokens,
               CAST(SUM(nbpe) AS BIGINT) AS bpe_tokens,
               CAST((10000 * SUM(nbpe)) // greatest(SUM(nws), 1) AS BIGINT)
                 AS fertility_bp
        FROM (
          SELECT {lang} AS lang,
                 CAST(len({tok}) AS BIGINT) AS nws,
                 CAST(len(regexp_extract_all({text_col}, '{BPE_TOKEN_RE}')) AS BIGINT)
                   AS nbpe
          FROM {table}
        ) GROUP BY lang"""


def corpus_stats_sql(table: str = "documents", text_col: str = "text") -> str:
    lang = lang_id_sql(text_col)
    tok = tokens_sql(text_col)
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    q = f"""least(CAST(10000 AS BIGINT),
            2 * CAST(floor(10000.0 * len(list_filter({tok}, t -> list_contains([{sw}], t)))
                           / greatest(len({tok}), 1)) AS BIGINT)
            + 10 * least(CAST(len({tok}) AS BIGINT), 500))"""
    return f"""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(ntok) AS BIGINT) AS total_tokens,
               CAST(SUM(nch) AS BIGINT) AS total_chars,
               CAST(floor(SUM(q) / COUNT(*)) AS BIGINT) AS mean_quality_bp
        FROM (
          SELECT {lang} AS lang,
                 CAST(len({tok}) AS BIGINT) AS ntok,
                 CAST(length({text_col}) AS BIGINT) AS nch,
                 {q} AS q
          FROM {table}
        ) GROUP BY lang"""


# ---------------------------------------------------------------------------
# materialized array columns
#
# PERFORMANCE RULE for every op below: expressions referenced inside
# higher-order-function lambdas are RE-EVALUATED per element — inlining
# `shingles(tokens(text))` into a per-window lambda turns a linear scan
# into O(n²) per row (measured 189 s for 500 docs). So multi-use arrays
# are materialized as real columns first; CollapseProject keeps a
# non-cheap multi-referenced alias as its own projection (SPARK-36718),
# and each lambda then slices an attribute, not an expression tree.
# ---------------------------------------------------------------------------

def with_shingle_arrays(df, col: str = "text", k: int = SHINGLE_K):
    """df + materialized ``_tok`` (tokens) and ``_sh`` (k-shingles)."""
    df = df.withColumn("_tok", tokens(col))
    return df.withColumn("_sh", shingles(F.col("_tok"), k))


# ---------------------------------------------------------------------------
# winnowing document fingerprint (rolling min-hash over shingle windows)
# ---------------------------------------------------------------------------

def fingerprint_agg(
    df, id_col: str = "doc_id", col: str = "text", k: int = SHINGLE_K, w: int = WINNOW_W
):
    """(id, ..., text) → (id, fingerprint): winnowing (Schleimer et al.,
    SIGMOD'03) — md5 each k-shingle, take the min hash of every w-length
    window, dedup+sort the selected hashes, fingerprint = md5 of their
    concatenation.

    posexplode + window-min + aggregate shape (flat expressions; see
    :func:`minhash_agg` for why nested array lambdas are avoided). The
    per-doc window is tiny, so the window pass shares the single shuffle
    on the id."""
    from pyspark.sql import Window

    base = with_shingle_arrays(df, col, k).select(
        F.col(id_col),
        F.size("_sh").alias("_n_sh"),
        F.posexplode("_sh").alias("_pos", "_shingle"),
    )
    rows = base.withColumn("_h", F.md5("_shingle"))
    win = Window.partitionBy(id_col).orderBy("_pos").rowsBetween(0, w - 1)
    rows = rows.withColumn("_winmin", F.min("_h").over(win))
    kept = rows.filter(
        F.col("_pos") < F.greatest(F.col("_n_sh") - F.lit(w - 1), F.lit(1))
    )
    return kept.groupBy(id_col).agg(
        F.md5(F.array_join(F.array_sort(F.collect_set("_winmin")), ",")).alias(
            "fingerprint"
        )
    )


def fingerprint_postings(
    df, id_col: str = "doc_id", col: str = "text", k: int = SHINGLE_K, w: int = WINNOW_W
):
    """(id, ..., text) → (id, fp): the DISTINCT winnowing-selected
    window-min hashes per document — :func:`fingerprint_agg` stopped
    one step early (before the digest), exposing the selected hash SET
    as rows so it can drive retrieval (``operators/search.
    fingerprint_search``) instead of only identity comparison."""
    from pyspark.sql import Window

    base = with_shingle_arrays(df, col, k).select(
        F.col(id_col),
        F.size("_sh").alias("_n_sh"),
        F.posexplode("_sh").alias("_pos", "_shingle"),
    )
    rows = base.withColumn("_h", F.md5("_shingle"))
    win = Window.partitionBy(id_col).orderBy("_pos").rowsBetween(0, w - 1)
    rows = rows.withColumn("_winmin", F.min("_h").over(win))
    kept = rows.filter(
        F.col("_pos") < F.greatest(F.col("_n_sh") - F.lit(w - 1), F.lit(1))
    )
    return kept.select(F.col(id_col), F.col("_winmin").alias("fp")).distinct()


def fingerprint_postings_sql(
    table: str, id_col: str = "doc_id", col: str = "text",
    k: int = SHINGLE_K, w: int = WINNOW_W,
) -> str:
    """DuckDB twin of :func:`fingerprint_postings` — a CTE-able SELECT
    producing ({id_col}, fp) rows (same winnow selection as
    :func:`fingerprint_sql`, without the digest)."""
    tok = tokens_sql(col)
    sh = shingles_sql(tok, k)
    hashes = f"list_transform({sh}, s -> md5(s))"
    return f"""
        SELECT {id_col}, unnest(list_distinct(
          list_transform(generate_series(1, greatest(len(hs) - {w - 1}, 1)),
                         j -> list_min(hs[j:j+{w - 1}])))) AS fp
        FROM (SELECT {id_col}, {hashes} AS hs FROM {table})"""


def fingerprint_sql(col: str = "text", k: int = SHINGLE_K, w: int = WINNOW_W) -> str:
    tok = tokens_sql(col)
    sh = shingles_sql(tok, k)
    hashes = f"list_transform({sh}, s -> md5(s))"
    return (
        f"md5(array_to_string(list_sort(list_distinct("
        f"list_transform(generate_series(1, greatest(len({hashes}) - {w - 1}, 1)), "
        f"j -> list_min(({hashes})[j:j+{w - 1}])))), ','))"
    )


# ---------------------------------------------------------------------------
# minhash signatures + LSH band keys (per-row; the join lives in dedup.py)
# ---------------------------------------------------------------------------

# Universal-hash family (Carter–Wegman) over one md5 per shingle:
#   h31  = (40-bit md5 hex slice) mod p          p = 2^31 - 1 (Mersenne)
#   h_s  = (a_s * h31 + b_s) mod p               a_s, b_s pseudo-random 31-bit
# ONE md5 per shingle instead of n (n md5s/shingle was the measured
# minhash bottleneck). a_s*h31 < 2^62 — no int64 overflow in either
# engine — and the product wraps p ~2^31 times, so each h_s is a genuine
# scramble of h31. (Round-1 bug: small a_s kept a_s*h+b_s below the
# modulus, making every h_s MONOTONE in h — the whole signature was then
# determined by the single argmin shingle and LSH banding amplified
# nothing. Seeds must be large enough that the mod actually wraps.)
MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1
_mh_rng = __import__("random").Random(0xC0FFEE)  # fixed seed — constants are
MINHASH_A = [_mh_rng.randrange(1, MINHASH_P) for _ in range(MINHASH_N)]
MINHASH_B = [_mh_rng.randrange(0, MINHASH_P) for _ in range(MINHASH_N)]
del _mh_rng
_HEX_SLICE = 10  # hex chars = 40 bits


def _hex_slice_to_long(col: Column) -> Column:
    """First 10 hex chars of an md5 → 40-bit non-negative BIGINT."""
    out = F.lit(0).cast("long")
    for j in range(1, _HEX_SLICE + 1):
        d = F.instr(F.lit(_HEX), F.substring(col, j, 1)) - 1
        out = out * F.lit(16) + d.cast("long")
    return out


def hex_slice_to_long_sql(expr: str) -> str:
    out = "CAST(0 AS BIGINT)"
    for j in range(1, _HEX_SLICE + 1):
        out = f"({out} * 16 + (strpos('{_HEX}', substr({expr}, {j}, 1)) - 1))"
    return out


def minhash_agg(sh_df, id_col: str = "doc_id", n: int = MINHASH_N):
    """(id, shingle) rows → (id, sig): n minhashes (as BIGINT strings)
    from ONE md5 per shingle + n derived universal hashes.

    Explode+aggregate shape (one shuffle on id, map-side combine), NOT
    nested array lambdas: besides being the standard scale shape, deeply
    nested higher-order functions (transform-inside-array-min) were
    observed to return wrong md5/min values for some rows in long-lived
    Spark 4.1.2 sessions — flat aggregate expressions are immune."""
    h = F.pmod(_hex_slice_to_long(F.md5(F.col("shingle"))), F.lit(MINHASH_P))
    base = sh_df.withColumn("_h", h)
    mins = [
        F.min(
            F.pmod(
                F.col("_h") * F.lit(MINHASH_A[s]) + F.lit(MINHASH_B[s]),
                F.lit(MINHASH_P),
            )
        ).alias(f"_m{s}")
        for s in range(n)
    ]
    return (
        base.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(
                *[F.col(f"_m{s}").cast("string") for s in range(n)]
            ).alias("sig"),
        )
    )


def minhash_sig_select_sql(
    shingle_rows: str, id_col: str = "doc_id", n: int = MINHASH_N
) -> str:
    """DuckDB twin of :func:`minhash_agg`: a full SELECT producing
    (id, sig) from a (id, shingle) relation — md5 each shingle ONCE,
    then n MIN aggregates over the derived universal hashes (same
    explode+agg shape as Spark, not n list_transforms re-hashing the
    shingle list n times)."""
    h31 = f"({hex_slice_to_long_sql('md5(shingle)')}) % {MINHASH_P}"
    mins = ", ".join(
        f"CAST(MIN((h31 * {MINHASH_A[s]} + {MINHASH_B[s]}) % {MINHASH_P}) AS VARCHAR)"
        for s in range(n)
    )
    return (
        f"SELECT {id_col}, [{mins}] AS sig "
        f"FROM (SELECT {id_col}, {h31} AS h31 FROM {shingle_rows}) "
        f"GROUP BY {id_col}"
    )


def band_keys(sig: Column, bands: int = MINHASH_BANDS, n: int = MINHASH_N) -> Column:
    """Array of LSH band keys: md5(band_idx | rows of the signature)."""
    rows = n // bands
    keys = []
    for b in range(bands):
        parts = [F.lit(str(b))] + [
            F.element_at(sig, b * rows + r + 1) for r in range(rows)
        ]
        keys.append(F.md5(F.concat_ws("|", *parts)))
    return F.array(*keys)


def band_keys_sql(sig: str, bands: int = MINHASH_BANDS, n: int = MINHASH_N) -> str:
    rows = n // bands
    keys = ", ".join(
        "md5('{b}|' || {parts})".format(
            b=b,
            parts=" || '|' || ".join(f"({sig})[{b * rows + r + 1}]" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"[{keys}]"


# ---------------------------------------------------------------------------
# simhash (64-bit, md5-derived per-token hashes, ±1 bit votes)
# ---------------------------------------------------------------------------

# 64 bits with 16-bit bands, NOT 32 with 8-bit bands: at ≥10⁹ docs a
# 32-bit signature floods Hamming≤3 with random collisions (birthday on
# 2³²) and each 8-bit band holds N/256 docs ⇒ quadratic within-band pair
# work. 16-bit bands give 2¹⁶ buckets/band (N/65536 per bucket) and the
# 64-bit space keeps random near-collisions negligible — the same band
# math as the embedding sign-band dedup in operators/similarity.py.
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16
# bit 63 is the sign bit of a BIGINT: its weight is -(2^63) in two's
# complement (the combine below adds it LAST so no partial sum ever
# leaves the signed-64 range in either engine — DuckDB errors on BIGINT
# overflow where the JVM would silently wrap)
_SIMHASH_BIT_WEIGHT = [1 << b for b in range(63)] + [-(1 << 63)]


def simhash_agg(df, id_col: str = "doc_id", col: str = "text"):
    """(id, ..., text) → (id, simhash): 64-bit simhash — per token take
    the first 16 hex chars of md5 as a 64-bit value; each bit votes
    +1/-1 weighted by token multiplicity; simhash bit = 1 where the vote
    sum is positive. Stored as a signed BIGINT (bit 63 = sign bit).

    Explode+aggregate shape (flat expressions, one shuffle with map-side
    combine) — see :func:`minhash_agg` for why nested array lambdas are
    avoided. Matches the DuckDB oracle's shape exactly."""
    tok = df.select(F.col(id_col), F.explode(tokens(col)).alias("_t"))
    tok = tok.withColumn("_h16", F.substring(F.md5("_t"), 1, 16))

    # bit b of token value = (nibble[16 - b//4] >> (b%4)) & 1
    def bit(b: int) -> Column:
        j = 16 - b // 4
        s = b % 4
        d = F.instr(F.lit(_HEX), F.substring(F.col("_h16"), j, 1)) - 1
        return F.shiftright(d, s).bitwiseAND(F.lit(1))

    votes = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"_v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sh = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        sh = sh + F.when(
            F.col(f"_v{b}") > 0, F.lit(_SIMHASH_BIT_WEIGHT[b]).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return agg.select(F.col(id_col), sh.alias("simhash"))


def simhash_sql(table: str, id_col: str = "doc_id", col: str = "text") -> str:
    """DuckDB twin via explode + group (same result, different shape)."""
    bit_sums = ",\n        ".join(
        "SUM(CASE WHEN (strpos('{hx}', substr(h16, {j}, 1)) - 1) >> {s} & 1 = 1 "
        "THEN 1 ELSE -1 END) AS s{b}".format(hx=_HEX, j=16 - b // 4, s=b % 4, b=b)
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({_SIMHASH_BIT_WEIGHT[b]} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
      SELECT {id_col}, {combine} AS simhash
      FROM (
        SELECT {id_col},
        {bit_sums}
        FROM (
          SELECT {id_col}, substr(md5(t.tok), 1, 16) AS h16
          FROM {table}, unnest({tokens_sql(col)}) AS t(tok)
        )
        GROUP BY {id_col}
      )
    """


# ---------------------------------------------------------------------------
# within-document repetition (boilerplate / degenerate-text signal)
# ---------------------------------------------------------------------------

def repetition_columns(
    col: str | Column, k: int = SHINGLE_K, tok: Column | None = None
) -> dict[str, Column]:
    """Repetition/boilerplate signals per document — the standard
    degenerate-text filters of LLM data curation (a doc whose shingles
    or lines repeat heavily is boilerplate, a crawler loop, or decoding
    noise): distinct-token, distinct-k-shingle, and distinct-line
    ratios in basis points (integer-exact for the oracle gate). Low
    uniq_*_bp = heavy repetition. Narrow exprs; pass ``tok`` as a
    MATERIALIZED column (module PERFORMANCE RULE: ``shingles`` slices
    the token array inside a HOF lambda, and an inlined ``split`` there
    re-evaluates per element — O(n²))."""
    c = F.col(col) if isinstance(col, str) else col
    tok = tokens(c) if tok is None else tok
    sh = shingles(tok, k)
    lines = F.filter(F.split(c, "\n"), lambda x: F.length(x) > 0)

    def ratio_bp(arr):
        return F.floor(
            F.lit(10000) * F.size(F.array_distinct(arr))
            / F.greatest(F.size(arr), F.lit(1))
        ).cast("bigint")

    return {
        "uniq_token_bp": ratio_bp(tok),
        "uniq_shingle_bp": ratio_bp(sh),
        "uniq_line_bp": ratio_bp(lines),
    }


def repetition_sql(col: str = "text", k: int = SHINGLE_K) -> str:
    """DuckDB twin of :func:`repetition_columns`."""
    tok = tokens_sql(col)
    sh = shingles_sql(tok, k)
    lines = f"list_filter(string_split({col}, chr(10)), x -> len(x) > 0)"

    def ratio(arr, name):
        return (
            f"CAST(floor(10000 * len(list_distinct({arr})) "
            f"/ greatest(len({arr}), 1)) AS BIGINT) AS {name}"
        )

    return ", ".join(
        [
            ratio(tok, "uniq_token_bp"),
            ratio(sh, "uniq_shingle_bp"),
            ratio(lines, "uniq_line_bp"),
        ]
    )


# ---------------------------------------------------------------------------
# exact per-language length quantiles (bounded-histogram, no corpus sort)
# ---------------------------------------------------------------------------

QUANTILES_PCT = (25, 50, 75, 95)


def length_quantiles(df, lang_col: str = "lang", text_col: str = "text",
                     pcts: tuple = QUANTILES_PCT):
    """EXACT per-language token-length quantiles — the corpus length
    report behind truncation/packing decisions (chunk size, pack
    budget, length filters). Quantile *q* is the inverted CDF:
    the smallest length ``L`` with ``100·cum(L) ≥ q·n`` (cum = docs with
    ≤ L tokens) — deterministic, partition- and cluster-size
    independent, never ``approxQuantile``.

    100 TB shape (the ``quality_percentile_gate`` machinery): one
    narrow tokenize + map-side-combined groupBy(lang, n_tokens) into a
    histogram bounded by the length domain, then the cumulative window
    and the conditional-min quantile picks run on the HISTOGRAM only.
    Integer cross-multiplication, no division."""
    from pyspark.sql import Window

    n_tok = F.size(tokens(text_col)).cast("bigint")
    hist = (
        df.select(F.col(lang_col).alias("lang"), n_tok.alias("n_tokens"))
        .groupBy("lang", "n_tokens")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy("n_tokens")
    cum = hist.withColumn("cum", F.sum("n").over(w))
    tot = hist.groupBy("lang").agg(F.sum("n").alias("n_docs"))
    joined = cum.join(tot, "lang")
    aggs = [F.max("n_docs").alias("n_docs")] + [
        F.min(
            F.when(F.lit(100) * F.col("cum") >= F.lit(q) * F.col("n_docs"),
                   F.col("n_tokens"))
        ).alias(f"p{q}")
        for q in pcts
    ]
    return joined.groupBy("lang").agg(*aggs)


def length_quantiles_sql(table: str = "documents", lang_col: str = "lang",
                         text_col: str = "text",
                         pcts: tuple = QUANTILES_PCT) -> str:
    """DuckDB twin of :func:`length_quantiles` (caller supplies
    ``WITH``). Aggregate casts OUTSIDE (HUGEINT rule)."""
    tok = tokens_sql(text_col)
    picks = ",\n".join(
        f"           MIN(CASE WHEN 100 * cum >= {q} * n_docs THEN n_tokens END) AS p{q}"
        for q in pcts
    )
    return f"""
    lq_hist AS (
      SELECT {lang_col} AS lang, CAST(len({tok}) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n
      FROM {table} GROUP BY 1, 2),
    lq_cum AS (
      SELECT lang, n_tokens, n,
             CAST(SUM(n) OVER (PARTITION BY lang ORDER BY n_tokens) AS BIGINT) AS cum
      FROM lq_hist),
    lq_tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs
               FROM lq_hist GROUP BY lang)
    SELECT lang, MAX(n_docs) AS n_docs,
{picks}
    FROM lq_cum JOIN lq_tot USING (lang)
    GROUP BY lang"""


# ---------------------------------------------------------------------------
# vocabulary coverage curve (top-N token share)
# ---------------------------------------------------------------------------

COVERAGE_NS = (10, 100, 1000)


def vocab_coverage(df, text_col: str = "text", ns: tuple[int, ...] = COVERAGE_NS):
    """VOCABULARY COVERAGE curve: what share of all token OCCURRENCES
    the top-N distinct tokens account for, at several N — the Zipf
    head-mass probe behind tokenizer vocab sizing and stopword-list
    decisions ("how big must the vocab be to cover 95% of the
    corpus"). Share in basis points: ``10000 * cum_count DIV total``
    (pure BIGINT). A vocabulary smaller than N saturates at the full
    total (coverage 10000), not a missing row.

    Distributed shape: ONE token groupBy (map-side combined) + a 1-row
    total; the top-max(N) survivors come via TakeOrderedAndProject
    (never a global sort) and the cumsum window runs over those
    model-sized rows only.

    Output: (top_n, cum_count, total_count, coverage_bp), one row per
    requested N.
    """
    from pyspark.sql import Window

    if not ns or any(n < 1 for n in ns):
        raise ValueError("ns must be non-empty positive ints")
    n_max = max(ns)
    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("total_count"))
    top = counts.orderBy(F.col("n").desc(), "token").limit(n_max)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    ranked = top.withColumn("rank", F.row_number().over(w)).withColumn(
        "cum", F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long")
    )
    cums = ranked.agg(
        *[
            F.max(F.when(F.col("rank") <= n, F.col("cum"))).alias(f"_c{n}")
            for n in sorted(ns)
        ]
    )
    stacked = cums.crossJoin(total).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).cast("long").alias("top_n"),
                        F.col(f"_c{n}").alias("cum_count"),
                    )
                    for n in sorted(ns)
                ]
            )
        ).alias("_s"),
        "total_count",
    )
    return stacked.select(
        F.col("_s.top_n").alias("top_n"),
        F.col("_s.cum_count").alias("cum_count"),
        "total_count",
        F.expr("10000 * _s.cum_count DIV total_count").alias("coverage_bp"),
        # ADVICE r6: on a token-less corpus the agg-over-empty row would
        # yield N null-cum rows while the SQL twin's cross join over the
        # empty ranked set yields ZERO rows — drop the degenerate rows so
        # both engines agree (non-empty corpora always have cum_count)
    ).where(F.col("cum_count").isNotNull())


def vocab_coverage_sql(
    table: str = "documents",
    text_col: str = "text",
    ns: tuple[int, ...] = COVERAGE_NS,
) -> str:
    """DuckDB twin of :func:`vocab_coverage` (standalone SELECT)."""
    n_max = max(ns)
    ns_list = ", ".join(str(n) for n in sorted(ns))
    return f"""
    WITH vc_counts AS (
      SELECT t.tok AS token, COUNT(*) AS n
      FROM {table}, unnest({tokens_sql(text_col)}) AS t(tok)
      GROUP BY 1),
    vc_total AS (SELECT CAST(SUM(n) AS BIGINT) AS total_count FROM vc_counts),
    vc_ranked AS (
      SELECT n,
             ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank,
             CAST(SUM(n) OVER (ORDER BY n DESC, token
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM vc_counts QUALIFY rank <= {n_max})
    SELECT CAST(ck.top_n AS BIGINT) AS top_n,
           MAX(CASE WHEN vc_ranked.rank <= ck.top_n THEN vc_ranked.cum END)
             AS cum_count,
           ANY_VALUE(vc_total.total_count) AS total_count,
           10000 * MAX(CASE WHEN vc_ranked.rank <= ck.top_n
                            THEN vc_ranked.cum END)
             // ANY_VALUE(vc_total.total_count) AS coverage_bp
    FROM (SELECT unnest([{ns_list}]) AS top_n) ck, vc_ranked, vc_total
    GROUP BY ck.top_n"""
