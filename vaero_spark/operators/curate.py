"""Training-data curation: the composed keep/reject decision of an LLM
data pipeline (quality score + language + token-length gates), and the
apply-step of near-dup deduplication (keep one canonical doc per
cluster).

These close the loop the individual §2.7 operators open: ``txt_quality``
/ ``txt_langid`` / ``dedup_clusters`` DECIDE; these ops APPLY the
decision to produce the kept corpus — what a user actually feeds a
training run. (No reference counterpart — the reference's closest
construct is the per-event ``filter_regexp`` drop,
``/root/reference/transform/filter.go``; SURVEY.md §2.7.)

100 TB shape: ``curate_documents`` is a narrow projection + filter over
one tokenize pass (shuffle-free, whole-stage codegen — the module
PERFORMANCE RULE: tokenize ONCE into a column, never per-expression);
``neardup_keep`` is the MinHash+LSH cluster pipeline plus ONE left-anti
join on doc_id. The join strategy is deliberately left to AQE: web
corpora run 20-50% near-dup, so at 10¹² docs the drop-list is ~10¹¹
ids — far past any broadcast threshold — and a forced broadcast hint
would OOM at exactly the scale the op exists for; AQE still broadcasts
it when the runtime size is small (the fixture case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vaero_spark.functions.text import lang_id, quality_columns, tokens
from vaero_spark.operators.state import LONGS, KeyedStep, keyed_state


def curate_documents(
    df: DataFrame,
    min_quality_bp: int = 3000,
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-gate a document corpus: keep docs with ``quality_bp ≥
    min_quality_bp``, predicted language in ``langs``, and at least
    ``min_tokens`` whitespace tokens. Returns (id, pred_lang, n_tokens,
    quality_bp) for the kept docs — integer/string-only output, exact
    across engines."""
    tok = tokens(text_col)
    out = df.withColumn("_tok", tok)
    q = quality_columns(text_col, tok=F.col("_tok"))
    out = (
        out.withColumn("n_tokens", q["n_tokens"])
        .withColumn("quality_bp", q["quality_bp"])
        .withColumn("pred_lang", lang_id(text_col, tok=F.col("_tok")))
        .drop("_tok")
    )
    return out.filter(
        (F.col("quality_bp") >= min_quality_bp)
        & F.col("pred_lang").isin(*langs)
        & (F.col("n_tokens") >= min_tokens)
    ).select(id_col, "pred_lang", "n_tokens", "quality_bp")


def conversation_quality(
    df: DataFrame,
    threshold_bp: int = 3000,
    min_turns: int = 2,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """CONVERSATION-level quality gate — the transcript-native sibling
    of :func:`curate_documents` (which gates flat documents): training
    on dialogs keeps or drops WHOLE conversations, so the decision
    statistic is the conversation rollup, not the turn. Per
    conversation: turn count, total characters, floor-mean and min
    per-turn ``quality_bp``, and the keep flag
    (``mean >= threshold_bp AND n_turns >= min_turns``). All integer
    arithmetic (floor-mean = ``sum div count``), hash-exact.

    100 TB shape: one tokenize-once narrow projection per turn, ONE
    map-side-combined groupBy(conv_id) — the same single shuffle as
    ``conv_assemble``, producing a conversation-count-sized table.

    Output: (conv_id, n_turns, total_chars, mean_quality_bp,
    min_quality_bp, keep).
    """
    out = df.withColumn("_tok", tokens(text_col))
    q = quality_columns(text_col, tok=F.col("_tok"))
    base = out.select(
        F.col(conv_col).alias("conv_id"),
        F.length(text_col).cast("bigint").alias("_nch"),
        q["quality_bp"].alias("_q"),
    )
    return base.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("_nch").alias("total_chars"),
        F.expr("sum(_q) div count(1)").alias("mean_quality_bp"),
        F.min("_q").alias("min_quality_bp"),
        F.when(
            (F.expr("sum(_q) div count(1)") >= threshold_bp)
            & (F.count(F.lit(1)) >= min_turns),
            1,
        ).otherwise(0).cast("int").alias("keep"),
    )


def conversation_quality_sql(
    table: str = "transcripts",
    threshold_bp: int = 3000,
    min_turns: int = 2,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`conversation_quality` (CTE-able SELECT);
    SUM/COUNT cast OUTSIDE (HUGEINT rule), integer division only."""
    from vaero_spark.functions.text import quality_bp_sql

    return f"""
    SELECT conv_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(SUM(nch) AS BIGINT) AS total_chars,
           CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_quality_bp,
           CAST(MIN(q) AS BIGINT) AS min_quality_bp,
           CAST(CASE WHEN SUM(q) // COUNT(*) >= {threshold_bp}
                      AND COUNT(*) >= {min_turns}
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM (
      SELECT {conv_col} AS conv_id,
             CAST(length({text_col}) AS BIGINT) AS nch,
             {quality_bp_sql(text_col)} AS q
      FROM {table}
    ) GROUP BY conv_id"""


def neardup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard_pct: int = 50,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Apply the near-dup clustering decision: every document that is a
    NON-CANONICAL member of a near-dup cluster (``doc_id != cluster_id``
    in :func:`~vaero_spark.operators.dedup.neardup_clusters`) is
    dropped; canonical keepers and non-participants survive. Returns
    (id, text_md5) — the kept corpus as a compact manifest.

    Pass ``clusters`` (a precomputed (doc_id, cluster_id) table) to
    reuse an existing clustering instead of rebuilding the MinHash+LSH
    pipeline — the production path computes clusters once and feeds both
    the analytics and the keep decision; the gate query keeps its
    independent rebuild (gate queries share no caches by design).

    No broadcast hint on the drop-list: at real near-dup rates it is
    corpus-sized and must be allowed to shuffle (module docstring); AQE
    broadcasts it when its runtime size permits."""
    if clusters is None:
        from vaero_spark.operators.dedup import neardup_clusters

        clusters = neardup_clusters(df, id_col, text_col, min_jaccard_pct)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti").select(
        id_col, F.md5(text_col).alias("text_md5")
    )


# ---------------------------------------------------------------------------
# per-language exact percentile quality gate (bounded-histogram two-pass)
# ---------------------------------------------------------------------------


def quality_percentile_gate(
    df: DataFrame,
    drop_pct: int = 25,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop each language's bottom ``drop_pct`` percent by quality score
    — the RELATIVE quality gate (curate_documents' absolute threshold
    doesn't transfer across languages/domains whose score distributions
    differ; production pipelines cut per-stratum percentiles instead).

    EXACT percentile semantics without a corpus sort: ``quality_bp`` has
    a BOUNDED integer domain ([0, 10000]), so per-language document
    counts per score value form a histogram of at most
    ``n_langs × 10001`` rows. The threshold for a language is the
    smallest score ``T`` with ``100·cum(T) ≥ drop_pct·n_lang`` (cum =
    docs scoring ≤ T); docs scoring < T drop, ties AT the threshold all
    survive — deterministic and partition/cluster-size independent
    (never ``approxQuantile``, whose result is neither).

    100 TB shape: two narrow passes over the corpus — (1) score +
    map-side-combined groupBy(lang, score) into the bounded histogram
    (the only corpus-sized shuffle, output ≤ langs×10001 rows); the
    cumulative window and threshold min run on the HISTOGRAM, never the
    corpus; (2) score + filter against the broadcast threshold table
    (#langs rows — a justified broadcast, unlike the corpus-sized
    dedup_keep drop-list). Integer-exact throughout: the percentile
    rule is a cross-multiplication, no division anywhere.
    """
    from pyspark.sql import Window

    tok = tokens(text_col)

    def scored(d: DataFrame) -> DataFrame:
        d = d.withColumn("_tok", tok)
        q = quality_columns(text_col, tok=F.col("_tok"))
        return d.select(id_col, lang_col, q["quality_bp"].alias("quality_bp"))

    hist = (
        scored(df)
        .groupBy(lang_col, "quality_bp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(lang_col).orderBy("quality_bp")
    cum = hist.withColumn("cum", F.sum("n").over(w))
    tot = hist.groupBy(lang_col).agg(F.sum("n").alias("n_lang"))
    thr = (
        cum.join(tot, lang_col)
        .filter(F.lit(100) * F.col("cum") >= F.lit(drop_pct) * F.col("n_lang"))
        .groupBy(lang_col)
        .agg(F.min("quality_bp").alias("thr"))
    )
    return (
        scored(df)
        .join(F.broadcast(thr), lang_col)
        .filter(F.col("quality_bp") >= F.col("thr"))
        .select(id_col, lang_col, "quality_bp")
    )


def quality_percentile_gate_sql(
    docs_table: str = "documents",
    drop_pct: int = 25,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`quality_percentile_gate`. Every aggregate
    is cast OUTSIDE (DuckDB SUM(BIGINT) → HUGEINT → pandas float64
    otherwise); the window cumsum gets the same outer cast."""
    from vaero_spark.functions.text import quality_sql

    return f"""
    scored AS (
      SELECT {id_col}, {lang_col}, quality_bp
      FROM (SELECT {id_col}, {lang_col}, {quality_sql()} FROM {docs_table})),
    hist AS (
      SELECT {lang_col}, quality_bp, CAST(count(*) AS BIGINT) AS n
      FROM scored GROUP BY 1, 2),
    cum AS (
      SELECT {lang_col}, quality_bp, n,
             CAST(sum(n) OVER (PARTITION BY {lang_col} ORDER BY quality_bp)
                  AS BIGINT) AS cum
      FROM hist),
    tot AS (SELECT {lang_col}, CAST(sum(n) AS BIGINT) AS n_lang
            FROM hist GROUP BY {lang_col}),
    thr AS (
      SELECT c.{lang_col}, min(c.quality_bp) AS thr
      FROM cum c JOIN tot t USING ({lang_col})
      WHERE 100 * c.cum >= {drop_pct} * t.n_lang
      GROUP BY c.{lang_col})
    SELECT s.{id_col}, s.{lang_col}, s.quality_bp
    FROM scored s JOIN thr USING ({lang_col})
    WHERE s.quality_bp >= thr"""


# ---------------------------------------------------------------------------
# eval-set decontamination (n-gram overlap against a blocklist corpus)
# ---------------------------------------------------------------------------


def decontaminate_flags(
    docs: DataFrame,
    eval_df: DataFrame,
    min_overlap: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag training documents that share ≥ ``min_overlap`` DISTINCT
    k-word shingles with ANY document of an evaluation set — the
    benchmark-decontamination step every serious LLM data pipeline runs
    (n-gram overlap is the standard first-line test; the eval corpus is
    the blocklist).

    Distributed shape: the eval set's distinct shingles form a SMALL
    table (eval benchmarks are tiny next to a training corpus) that the
    shingle equi-join broadcasts; per training doc, matched DISTINCT
    shingles are counted — no pairwise doc×doc work, no all-pairs.
    Output: (id, n_overlap) for flagged docs, integer-exact.
    """
    from vaero_spark.functions.text import shingles, tokens

    doc_sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(tokens(text_col)))).alias("shingle"),
    )
    eval_sh = eval_df.select(
        F.explode(F.array_distinct(shingles(tokens(text_col)))).alias("shingle")
    ).distinct()
    return (
        doc_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def decontaminate_sql(
    docs_table: str,
    eval_where: str,
    min_overlap: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`decontaminate_flags` where the eval set is
    ``docs_table`` rows matching ``eval_where`` and the training side is
    the rest (the fixture split)."""
    from vaero_spark.functions.text import shingles_sql, tokens_sql

    sh = shingles_sql(tokens_sql(text_col))
    return f"""
    doc_sh AS (
      SELECT {id_col} AS doc_id, unnest(list_distinct({sh})) AS shingle
      FROM {docs_table} WHERE NOT ({eval_where})),
    eval_sh AS (
      SELECT DISTINCT unnest(list_distinct({sh})) AS shingle
      FROM {docs_table} WHERE {eval_where})
    SELECT doc_id, count(*) AS n_overlap
    FROM doc_sh JOIN eval_sh USING (shingle)
    GROUP BY doc_id HAVING count(*) >= {min_overlap}"""


# ---------------------------------------------------------------------------
# line-level boilerplate removal (CCNet/RefinedWeb-style line dedup)
# ---------------------------------------------------------------------------


def strip_boilerplate_lines(
    df: DataFrame,
    max_line_df: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove BOILERPLATE LINES from multi-line documents: a line whose
    exact text occurs in more than ``max_line_df`` DISTINCT documents
    (nav menus, footers, cookie banners, export headers) is dropped
    from every document; surviving lines are re-joined in original
    order. This is the line-level dedup step of the standard web-corpus
    pipelines (CCNet / RefinedWeb run exactly this before document
    dedup) — the line-granular sibling of ``neardup_keep``.

    Output: (id, n_lines, n_removed, clean_md5) — integer/string-exact,
    one row per input document (a document whose every line is
    boilerplate survives with an empty cleaned text, so the op never
    silently drops rows; compose with :func:`curate_documents` to drop
    now-empty docs).

    100 TB shape: explode lines (corpus-sized, narrow) → one groupBy on
    the line text for document frequencies (count DISTINCT doc per
    line) → anti-join the flagged lines back → one groupBy on doc to
    reassemble. The flagged-line table gets NO broadcast hint — at web
    scale the boilerplate list is large (the ``dedup_keep`` lesson:
    AQE broadcasts it when its runtime size permits).
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    line_df = (
        lines.select("_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_df"))
    )
    boiler = line_df.filter(F.col("line_df") > max_line_df).select("line")
    kept = lines.join(boiler, "line", "left_anti")
    # sorted struct array materialized as a column BEFORE the rendering
    # transform touches it (functions/text.py PERFORMANCE RULE: exprs
    # inlined into HOF lambdas re-evaluate per element)
    kept_agg = (
        kept.groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("_k"))
        .select(
            "_id",
            F.array_join(F.transform("_k", lambda s: s["line"]), "\n").alias("_clean"),
            F.size("_k").cast("long").alias("_n_kept"),
        )
    )
    totals = lines.groupBy("_id").agg(F.count(F.lit(1)).alias("n_lines"))
    return totals.join(kept_agg, "_id", "left").select(
        F.col("_id").alias(id_col),
        "n_lines",
        (F.col("n_lines") - F.coalesce("_n_kept", F.lit(0))).alias("n_removed"),
        F.md5(F.coalesce("_clean", F.lit(""))).alias("clean_md5"),
    )


def strip_boilerplate_sql(
    lines_cte: str,
    max_line_df: int = 20,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`strip_boilerplate_lines`. ``lines_cte`` is
    the name of a CTE with columns (_id, pos, line) — the caller
    derives it from its document table (split on chr(10) with
    0-based positions)."""
    return f"""
    ldf AS (SELECT line, count(*) AS line_df
            FROM (SELECT DISTINCT _id, line FROM {lines_cte}) GROUP BY line),
    kept AS (SELECT l._id, l.pos, l.line
             FROM {lines_cte} l JOIN ldf USING (line)
             WHERE line_df <= {max_line_df}),
    kept_agg AS (SELECT _id, string_agg(line, chr(10) ORDER BY pos) AS clean,
                        count(*) AS n_kept
                 FROM kept GROUP BY _id),
    tot AS (SELECT _id, count(*) AS n_lines FROM {lines_cte} GROUP BY _id)
    SELECT t._id AS {id_col}, t.n_lines,
           CAST(t.n_lines - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(k.clean, '')) AS clean_md5
    FROM tot t LEFT JOIN kept_agg k USING (_id)"""


# ---------------------------------------------------------------------------
# PII scrubbing (composed category masks + per-category counts)
# ---------------------------------------------------------------------------

# Patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): no lookaround, no \d shorthand, explicit classes.
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+",
    "ipv4": "([0-9]{1,3}\\.){3}[0-9]{1,3}",
    "longnum": "[0-9]{7,}",
}
PII_ORDER = ["email", "ipv4", "longnum"]  # email first: it contains digits


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Scrub PII categories from ``text_col`` and count what was
    removed: emails, IPv4 addresses, long digit runs (IDs/phones/cards)
    — the composed privacy pass of a training-data pipeline
    (generalizes the reference's single-regex ``mask``,
    ``/root/reference/transform/mask.go``). Categories apply in
    ``PII_ORDER`` (email first — its local part contains digit runs).
    Adds ``<cat>_n`` counts (from the PRE-scrub text) and replaces the
    text in place with ``<CAT>`` markers. Narrow per-row expressions,
    shuffle-free."""
    out = df
    scrubbed = F.col(text_col)
    for cat in PII_ORDER:
        out = out.withColumn(
            f"{cat}_n",
            F.size(F.regexp_extract_all(text_col, F.lit(PII_PATTERNS[cat]), F.lit(0))
                   ).cast("long"),
        )
    for cat in PII_ORDER:
        scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS[cat], f"<{cat.upper()}>")
    return out.withColumn(text_col, scrubbed)


def pii_scrub_sql(text_col: str = "text") -> str:
    """DuckDB twin: the count columns + scrubbed text expression list
    (append after the id columns in a SELECT)."""
    counts = ",\n".join(
        f"CAST(len(regexp_extract_all({text_col}, "
        f"'{PII_PATTERNS[cat]}')) AS BIGINT) AS {cat}_n"
        for cat in PII_ORDER
    )
    scrub = text_col
    for cat in PII_ORDER:
        scrub = (
            f"regexp_replace({scrub}, '{PII_PATTERNS[cat]}', "
            f"'<{cat.upper()}>', 'g')"
        )
    return f"{counts},\n{scrub} AS {text_col}"


# ---------------------------------------------------------------------------
# lexicon blocklist filter (safety / spam / contamination phrase lists)
# ---------------------------------------------------------------------------

# Gate-query default: phrases that actually occur in the synthetic
# corpus so the flag path is exercised end-to-end. Production callers
# pass their own blocklist (safety terms, spam markers, license
# boilerplate, eval-set catchphrases).
DEFAULT_LEXICON: tuple[str, ...] = ("spark window", "hash join", "dup")


def lexicon_hits(s, lexicon: tuple[str, ...] = DEFAULT_LEXICON):
    """Total lexicon-phrase occurrence count over an already-lowercased
    string COLUMN ``s`` — the shared core of :func:`lexicon_flags` and
    :func:`stream_lexicon`. Regex-free builtin string arithmetic
    (docstring below); integer-exact in both engines."""
    hits = F.lit(0).cast("bigint")
    for p in lexicon:
        p = p.lower()
        cnt = F.floor(
            (F.length(s) - F.length(F.replace(s, F.lit(p), F.lit("")))) / F.lit(len(p))
        ).cast("bigint")
        hits = hits + cnt
    return hits


def lexicon_hits_sql(expr: str, lexicon: tuple[str, ...] = DEFAULT_LEXICON) -> str:
    """DuckDB twin of :func:`lexicon_hits` over an already-lowercased
    SQL expression ``expr`` (mirrors the arithmetic token-for-token)."""
    terms = []
    for p in lexicon:
        p = p.lower().replace("'", "''")
        terms.append(
            f"CAST(floor((length({expr}) - length(replace({expr}, '{p}', ''))) "
            f"/ {len(p)}) AS BIGINT)"
        )
    return "(" + " + ".join(terms) + ")"


def lexicon_flags(
    df: DataFrame,
    lexicon: tuple[str, ...] = DEFAULT_LEXICON,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hits: int = 2,
) -> DataFrame:
    """Phrase-blocklist scoring — the lexicon-filter pass every
    training-data pipeline runs before the model-based filters (cheap,
    exact, auditable): for each document, count occurrences of every
    lexicon phrase (multi-word phrases included, substring semantics on
    the lowercased text) and flag documents whose total exceeds
    ``max_hits``.

    Occurrences are counted WITHOUT regex:
    ``(len(s) − len(replace(s, p, ''))) / len(p)`` — builtin string
    arithmetic, identical in Spark and DuckDB, integer-exact (the
    length delta is always a multiple of ``len(p)``). The whole op is
    one narrow projection: shuffle-free, whole-stage codegen, the
    lexicon is compiled into the plan (no join, no broadcast) — at
    100 TB this rides the scan like the reference's ``filter_regexp``
    (`/root/reference/transform/filter_regexp.go`) but with counts kept
    for the curation audit trail.

    Returns (id, lex_hits, flagged) with ``flagged`` as an int (0/1) —
    the repo's cross-engine parity rule keeps comparisons in integer
    space.
    """
    hits = lexicon_hits(F.lower(F.col(text_col)), lexicon)
    return df.select(
        F.col(id_col),
        hits.alias("lex_hits"),
        F.when(hits > max_hits, F.lit(1)).otherwise(F.lit(0)).alias("flagged"),
    )


def lexicon_flags_sql(
    table: str = "documents",
    lexicon: tuple[str, ...] = DEFAULT_LEXICON,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hits: int = 2,
) -> str:
    """DuckDB twin of :func:`lexicon_flags` (standalone SELECT). The
    lowercased text materializes once in a subquery; the hit expression
    mirrors the Spark arithmetic token-for-token."""
    hits = lexicon_hits_sql("_s", lexicon)
    return f"""
    SELECT {id_col}, {hits} AS lex_hits,
           CASE WHEN {hits} > {max_hits} THEN 1 ELSE 0 END AS flagged
    FROM (SELECT {id_col}, lower({text_col}) AS _s FROM {table})"""


# ---------------------------------------------------------------------------
# lexicon blocklist — streaming (live safety alerting per conversation)
# ---------------------------------------------------------------------------


class _LexiconStep(KeyedStep):
    """Per conversation, the hit count of each turn index (a re-delivered
    turn overwrites, never double-counts); emits the running sum. An
    idle conversation's state is evicted, emitting nothing: emissions
    are eager."""

    output = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("lex_hits", T.LongType()),
            T.StructField("flagged", T.IntegerType()),
        ]
    )
    fields = [T.StructField("ords", LONGS), T.StructField("hits", LONGS)]
    init = ([], [])

    def __init__(self, max_hits: int, idle_timeout_seconds: int):
        self.max_hits, self.horizon_s = max_hits, idle_timeout_seconds

    def start(self, acc):
        return dict(zip(*acc))

    def fold(self, turns, pdf, us):
        for o, h in zip(pdf["_ord"], pdf["_h"]):
            turns[int(o)] = int(h)  # overwrite: duplicate-safe
        return turns

    def emit(self, key, turns, watermark_ms):
        items = sorted(turns.items())
        total = sum(h for _, h in items)
        acc = ([o for o, _ in items], [h for _, h in items])
        return acc, [(key[0], total, 1 if total > self.max_hits else 0)]


def stream_lexicon(
    stream: DataFrame,
    lexicon: tuple[str, ...] = DEFAULT_LEXICON,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    ts_col: str = "ts",
    max_hits: int = 2,
    watermark: str = "60 days",
    idle_timeout_seconds: int = 3600,
) -> DataFrame:
    """Streaming form of :func:`lexicon_flags` at CONVERSATION
    granularity: as turns arrive (out of order, duplicates included),
    maintain each live conversation's cumulative blocklist-hit count
    and re-emit (conv_id, lex_hits, flagged) in update mode — the live
    safety monitor that pages when a conversation crosses the phrase
    budget.

    The per-turn hit count evaluates JVM-SIDE (the same regex-free
    arithmetic as the batch op) BEFORE the stateful stage, and
    zero-hit turns never reach Python — Arrow ships (conv, ord, hits,
    ts) for matching turns only. State per conversation is the hit
    count PER TURN INDEX (a dict, so a re-delivered duplicate turn
    overwrites instead of double-counting — idempotent under the
    at-least-once replay the fixtures exercise), plus last-event time
    for idle eviction. Every emission recomputes the full sum, so
    last-emission-wins drains to EXACTLY the batch per-conversation
    aggregate — an exact SQL oracle for a stateful streaming op (the
    ``stream_funnel`` / ``stream_cep`` pairing).

    **Idle timeout = semantic session close** (ADVICE r5): when a
    conversation sits idle past ``idle_timeout_seconds`` its state is
    REMOVED, so a conversation that resumes after the timeout (but
    still inside the watermark) restarts its cumulative count from
    zero — by design, the same convention as :func:`stream_funnel`:
    the monitor budgets phrases per SESSION, and an hour-idle gap IS a
    session boundary. Callers that need whole-conversation-lifetime
    budgets must set ``idle_timeout_seconds`` past their maximum
    expected gap (the gate query uses the 60-day watermark with a
    1-hour timeout and fixture gaps ≪ 1 h, so the drained result
    equals the batch aggregate exactly). Emissions are eager (every
    update re-emits the running sum), so downstream consumers see the
    final pre-timeout row even though timeout itself emits nothing.
    """
    pre = (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .select(
            F.col(conv_col).alias("conv_id"),
            F.col(order_col).cast("long").alias("_ord"),
            lexicon_hits(F.lower(F.col(text_col)), lexicon).alias("_h"),
            F.col(ts_col).alias("ts"),
        )
        .filter(F.col("_h") > 0)
    )
    return keyed_state(
        pre.groupBy("conv_id"), _LexiconStep(max_hits, idle_timeout_seconds)
    )


def stream_lexicon_oracle_sql(
    table_expr: str,
    lexicon: tuple[str, ...] = DEFAULT_LEXICON,
    max_hits: int = 2,
) -> str:
    """The BATCH equivalent the drained stream must equal (caller
    supplies the ``WITH`` prefix): per-conversation sum of per-turn
    hits over conversations with at least one hit (zero-hit turns are
    filtered before the stateful op, so all-zero conversations never
    emit)."""
    hits = lexicon_hits_sql("lower(text)", lexicon)
    return f"""
    lx_turns AS (
      SELECT conv_id, {hits} AS _h FROM {table_expr})
    SELECT conv_id,
           CAST(SUM(_h) AS BIGINT) AS lex_hits,
           CASE WHEN SUM(_h) > {max_hits} THEN 1 ELSE 0 END AS flagged
    FROM lx_turns
    GROUP BY conv_id
    HAVING SUM(_h) > 0"""
