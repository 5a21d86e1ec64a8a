"""The reference's 7 per-event transforms as DataFrame → DataFrame
functions built on native Column expressions (JVM-side, whole-stage
codegen — no per-row Python anywhere).

Semantics are pinned to the Go implementations in
``/root/reference/transform/*.go``; each function's docstring cites the
exact behavior it reproduces, including edge cases. The pytest suite
asserts parity against the pure-Python oracle
(``vaero_spark.testing.oracle``), which interprets the same semantics
literally.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vaero_spark.functions.paths import col_delete, col_get, col_set, has_column
from vaero_spark.functions.regex_utils import named_groups, to_java_regex

_HEX = "0123456789abcdef"


def _str_value(df: DataFrame, path: str) -> Column:
    """gjson ``value.String()``: missing field and JSON null both render
    as the empty string; other scalars via their string form."""
    if not has_column(df, path):
        return F.lit("")
    # booleans render true/false (lowercase) like Go; Spark cast agrees
    return F.coalesce(F.col(path).cast("string"), F.lit(""))


def add(df: DataFrame, path: str, value: Any) -> DataFrame:
    """Set ``path`` to literal ``value`` in every row, overwriting;
    creates intermediate structs (``transform/add.go:13-29``)."""
    return col_set(df, path, F.lit(value))


def delete(df: DataFrame, path: str) -> DataFrame:
    """Remove ``path``; no-op if absent (``transform/delete.go:13-29``)."""
    return col_delete(df, path)


def rename(df: DataFrame, path: str, new_path: str) -> DataFrame:
    """Read ``path``, set at ``new_path``, delete ``path``. Missing
    ``path`` ⇒ ``new_path`` set to null and nothing deleted
    (``transform/rename.go:14-41``)."""
    if has_column(df, path) and len(path.split(".")) == 1 == len(new_path.split(".")) and not has_column(df, new_path):
        return df.withColumnRenamed(path, new_path)  # fast path, no expr tree
    value = col_get(df, path)
    df = col_set(df, new_path, value)
    return col_delete(df, path)


def filter_regexp(df: DataFrame, path: str, regexp: str) -> DataFrame:
    """Keep rows whose string form of ``path`` partially (unanchored)
    matches. Missing field matches against the empty string — so a
    pattern matching '' keeps all rows (``transform/filter_regexp.go:
    13-31``: gjson missing ⇒ "" then ``regexp.MatchString``)."""
    return df.filter(_str_value(df, path).rlike(to_java_regex(regexp)))


def mask(df: DataFrame, path: str, regexp: str, replace_expr: str) -> DataFrame:
    """Replace ALL matches in the string form of ``path`` with
    ``replace_expr`` (Go ``ReplaceAllString`` with ``$1``/``$name`` group
    expansion) and write the result back as a string — including when the
    field was missing (the reference then *creates* it as the masked
    empty string, ``transform/mask.go:16-34``)."""
    masked = F.regexp_replace(_str_value(df, path), to_java_regex(regexp), replace_expr)
    return col_set(df, path, masked)


def parse_regexp(df: DataFrame, path: str, regexp: str) -> DataFrame:
    """For each *named* capture group, add a top-level field with the
    matched substring (``transform/parse_regexp.go:16-47``).

    DOCUMENTED DIVERGENCE: on no-match the reference panics
    (``parse_regexp.go:25,30`` indexes a nil slice); we null-fill the
    group fields instead.
    """
    jre = to_java_regex(regexp)
    src = _str_value(df, path)
    matched = src.rlike(jre)
    for name, idx in named_groups(regexp):
        df = col_set(
            df,
            name,
            F.when(matched, F.regexp_extract(src, jre, idx)).otherwise(F.lit(None).cast("string")),
        )
        src = _str_value(df, path)  # path may itself be a group name being overwritten
        matched = src.rlike(jre)
    return df


def select(df: DataFrame, path: str) -> DataFrame:
    """Replace each event with the raw string value at ``path`` — the
    event stops being structured (``transform/select.go:11-23``).
    Output schema: single ``value: string`` column."""
    return df.select(_str_value(df, path).alias("value"))


def hash_sample(df: DataFrame, rate_16ths: int, key: str = "text") -> DataFrame:
    """Deterministic sample keeping ``rate_16ths/16`` of rows by the last
    hex digit of ``md5(key)`` — reproducible across engines and cluster
    sizes (unlike ``df.sample``, which is partitioning-dependent), so the
    DuckDB oracle can replay it exactly. North-star 'sample' operator."""
    if not 0 <= rate_16ths <= 16:
        raise ValueError("rate_16ths in [0,16]")
    keep = list(_HEX[:rate_16ths])
    return df.filter(F.substring(F.md5(F.col(key).cast("string")), 32, 1).isin(keep))


def sample_stratified(
    df: DataFrame,
    rates_256ths: dict[str, int],
    strata_col: str = "lang",
    key: str = "doc_id",
    default_256ths: int = 256,
) -> DataFrame:
    """Per-stratum deterministic hash sample — the corpus-BALANCING op
    of a training-data pipeline (downsample dominant languages/sources,
    keep all of rare ones): keep ``rates_256ths[stratum]/256`` of each
    stratum by the last byte of ``md5(key)``; strata not listed keep
    ``default_256ths/256``.

    Engine-neutral trick: a fixed-length lowercase-hex string compares
    lexicographically in the SAME order as its numeric value, so "last
    byte < rate" is a plain string comparison ``substr(md5, 31, 2) <
    format(rate, '02x')`` — byte-identical in Spark and any SQL oracle
    with no hex-to-int parsing. Like :func:`hash_sample`, the selection
    is a pure function of the row (reproducible across engines,
    partitionings, and cluster sizes — ``df.sample`` is not).
    """
    for s, r in rates_256ths.items():
        if not 0 <= r <= 256:
            raise ValueError(f"rate for {s!r} must be in [0,256], got {r}")
    if not 0 <= default_256ths <= 256:
        raise ValueError("default_256ths in [0,256]")
    byte_hex = F.substring(F.md5(F.col(key).cast("string")), 31, 2)
    thresh = F.lit(f"{default_256ths:02x}" if default_256ths < 256 else "zz")
    for s, r in sorted(rates_256ths.items()):
        t = f"{r:02x}" if r < 256 else "zz"  # 'zz' > any hex pair: keep all
        thresh = F.when(F.col(strata_col) == s, F.lit(t)).otherwise(thresh)
    return df.filter(byte_hex < thresh)


def mix_by_budget(
    df: DataFrame,
    budgets: dict[str, int],
    default_budget: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT-budget corpus MIXING — the step that turns per-domain /
    per-language mixture weights into a concrete document selection
    (every LLM pretraining pipeline fixes mixture proportions in
    tokens, not documents): within each stratum, documents are laid out
    in a deterministic shuffle order (``md5(id)``, then id) and kept
    while the running token total stays within the stratum's budget —
    a greedy prefix; the first document that would cross the budget is
    cut, as are all after it. Output: (id, stratum, n_tokens,
    cum_tokens) for kept docs, integer-exact and engine-neutral (the
    hash order and the running sum are pure functions of the rows).

    Complements :func:`sample_stratified`: that one keeps a RATE per
    stratum (scales as a pure filter — use it at 10^12 docs); this one
    hits a token BUDGET exactly, at the cost of a per-stratum ordered
    running sum (Spark's window sorts within the stratum's partition —
    parallelism across strata, a range-partitioned sort within one; the
    intended use is the final bounded selection, e.g. "exactly 200B
    tokens of code", after rate-based reduction has already cut the
    corpus to near-target size).
    """
    from pyspark.sql import Window

    from vaero_spark.functions.text import tokens

    for s, v in budgets.items():
        if v < 0:
            raise ValueError(f"budget for {s!r} must be >= 0, got {v}")
    if default_budget < 0:
        raise ValueError("default_budget must be >= 0")
    sized = df.select(
        F.col(id_col).alias("_id"),
        F.col(strata_col).alias("_stratum"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("_stratum")
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budget = F.lit(default_budget).cast("long")
    for s, v in sorted(budgets.items()):
        budget = F.when(F.col("_stratum") == s, F.lit(v).cast("long")).otherwise(budget)
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select(
            F.col("_id").alias(id_col),
            F.col("_stratum").alias(strata_col),
            "n_tokens",
            "cum_tokens",
        )
    )


def mix_by_budget_sql(
    table: str,
    budgets: dict[str, int],
    default_budget: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`mix_by_budget` (the window SUM is cast to
    BIGINT outside the aggregate — the HUGEINT trap)."""
    from vaero_spark.functions.text import tokens_sql

    whens = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {v}" for s, v in sorted(budgets.items())
    )
    return f"""
    SELECT {id_col}, {strata_col}, n_tokens, cum_tokens FROM (
      SELECT {id_col}, {strata_col}, n_tokens,
             CAST(SUM(n_tokens) OVER (
                  PARTITION BY {strata_col}
                  ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM (SELECT {id_col}, {strata_col},
                   CAST(len({tokens_sql(text_col)}) AS BIGINT) AS n_tokens
            FROM {table}))
    WHERE cum_tokens <= (CASE {whens} ELSE {default_budget} END)"""


def sample_stratified_sql(
    rates_256ths: dict[str, int],
    strata_col: str = "lang",
    key: str = "doc_id",
    default_256ths: int = 256,
) -> str:
    """DuckDB twin of :func:`sample_stratified`'s keep-predicate."""
    whens = "\n".join(
        f"WHEN {strata_col} = '{s}' THEN "
        f"'{f'{r:02x}' if r < 256 else 'zz'}'"
        for s, r in sorted(rates_256ths.items())
    )
    default = f"{default_256ths:02x}" if default_256ths < 256 else "zz"
    return (
        f"substring(md5(CAST({key} AS VARCHAR)), 31, 2) < "
        f"(CASE {whens} ELSE '{default}' END)"
    )


def upsample_by_weight(
    df: DataFrame,
    weights_bp: dict[str, int],
    strata_col: str = "lang",
    key: str = "doc_id",
    default_bp: int = 10_000,
) -> DataFrame:
    """FRACTIONAL-EPOCH corpus mixing by REPETITION — the other half of
    mixture realization: :func:`sample_stratified` only DOWN-samples,
    but pretraining mixes routinely repeat scarce high-quality strata
    (books x2.5, wiki x3) while fractionally keeping the rest. Each
    document gets ``weight_bp/10000`` copies: the integer part always,
    plus one more iff a deterministic per-document hash draw falls
    below the fractional part — so a stratum's expected copy total is
    exactly ``n_docs * weight_bp / 10000`` and the REALIZED selection
    is a pure function of the rows (reproducible across engines,
    partitionings, cluster sizes). Weights below 10000 degrade to plain
    fractional sampling; 0 drops the stratum.

    Output: one row per (doc, copy): (key, stratum, copy_idx),
    copy_idx 1-based — the epoch index downstream shuffling interleaves.

    100 TB shape: a narrow projection + a bounded explode (fan-out =
    the mixture weight, a small constant); no shuffle, no state. The
    explode multiplies ROW COUNT, not bytes read — payload columns
    should be joined back after packing, not carried through the
    repeat.
    """
    from vaero_spark.functions.text import _hex_slice_to_long

    for s, w in weights_bp.items():
        if w < 0:
            raise ValueError(f"weight for {s!r} must be >= 0, got {w}")
    if default_bp < 0:
        raise ValueError("default_bp must be >= 0")
    wbp = F.lit(default_bp).cast("long")
    for s, w in sorted(weights_bp.items()):
        wbp = F.when(F.col(strata_col) == s, F.lit(w).cast("long")).otherwise(wbp)
    draw = F.pmod(_hex_slice_to_long(F.md5(F.col(key).cast("string"))), F.lit(10_000))
    # integer `div` (== DuckDB `//`), not double `/` + cast (ADVICE r6)
    n = F.call_function("div", wbp, F.lit(10_000)) + F.when(
        draw < F.pmod(wbp, F.lit(10_000)), F.lit(1)
    ).otherwise(F.lit(0)).cast("long")
    copies = F.when(n >= 1, F.sequence(F.lit(1).cast("long"), n)).otherwise(
        F.array().cast("array<long>")
    )
    return df.select(
        F.col(key), F.col(strata_col), F.explode(copies).alias("copy_idx")
    )


def upsample_by_weight_sql(
    table: str,
    weights_bp: dict[str, int],
    strata_col: str = "lang",
    key: str = "doc_id",
    default_bp: int = 10_000,
) -> str:
    """DuckDB twin of :func:`upsample_by_weight` (standalone SELECT):
    ``generate_series(1, 0)`` is empty in DuckDB, so no guard needed."""
    from vaero_spark.functions.text import hex_slice_to_long_sql

    whens = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {w}" for s, w in sorted(weights_bp.items())
    )
    wbp = f"(CASE {whens} ELSE {default_bp} END)"
    draw = f"({hex_slice_to_long_sql(f'md5(CAST({key} AS VARCHAR))')} % 10000)"
    return f"""
    SELECT {key}, {strata_col},
           unnest(generate_series(1, n_copies)) AS copy_idx
    FROM (
      SELECT {key}, {strata_col},
             CAST({wbp} // 10000
                  + CASE WHEN {draw} < {wbp} % 10000 THEN 1 ELSE 0 END
                  AS BIGINT) AS n_copies
      FROM {table})"""


# ---------------------------------------------------------------------------
# skew-proof per-group top-k (two-phase salted map-side top-k)
# ---------------------------------------------------------------------------


def sample_bottomk(
    df: DataFrame,
    k: int = 10,
    strata_col: str = "lang",
    key: str = "doc_id",
    n_salts: int = 16,
) -> DataFrame:
    """Per-stratum FIXED-SIZE deterministic sample: the ``k`` rows with
    the smallest ``md5(key)`` per stratum — the BOTTOM-K SKETCH
    (Cohen & Kaplan 2007). Where :func:`sample_stratified` keeps a
    RATE (output size scales with the stratum), bottom-k pins the
    output SIZE — the "exactly 10 inspection docs per language" shape
    every eyeball-QA and debugging workflow needs — while staying a
    pure function of the rows: reproducible across engines,
    partitionings, cluster sizes, and MERGEABLE (the bottom-k of a
    union is computable from per-part bottom-ks, which is what makes
    it a sketch and not just a sort; the same structure estimates
    distinct counts and Jaccard overlaps).

    Same skew-proof two-phase salted shape as :func:`group_topk` — no
    per-stratum window sort; every partial state is capped at k
    structs, map-side combined.

    Output: (stratum, rank, key, sample_hash) with rank 1..k by
    (md5 ASC, key ASC).
    """
    if k < 1 or n_salts < 1:
        raise ValueError("k and n_salts must be >= 1")
    item = F.struct(
        F.md5(F.col(key).cast("string")).alias("_h"), F.col(key).alias("_id")
    )
    botk = lambda c: F.slice(F.sort_array(c), 1, k)  # noqa: E731
    phase1 = (
        df.select(
            F.col(strata_col),
            F.pmod(F.xxhash64(F.col(key)), F.lit(n_salts)).alias("_salt"),
            item.alias("_it"),
        )
        .groupBy(strata_col, "_salt")
        .agg(botk(F.collect_list("_it")).alias("_bot"))
    )
    merged = (
        phase1.select(strata_col, F.explode("_bot").alias("_it"))
        .groupBy(strata_col)
        .agg(botk(F.collect_list("_it")).alias("_bot"))
    )
    return merged.select(
        strata_col, F.posexplode("_bot").alias("_pos", "_it")
    ).select(
        strata_col,
        (F.col("_pos") + 1).cast("int").alias("rank"),
        F.col("_it._id").alias(key),
        F.col("_it._h").alias("sample_hash"),
    )


def sample_bottomk_sql(
    table: str,
    k: int = 10,
    strata_col: str = "lang",
    key: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`sample_bottomk` — the window form (the
    salted plan is provably row-identical; the twin IS the equivalence
    check)."""
    return f"""
    SELECT {strata_col}, CAST(rank AS INTEGER) AS rank, {key}, sample_hash
    FROM (
      SELECT {strata_col}, {key},
             md5(CAST({key} AS VARCHAR)) AS sample_hash,
             row_number() OVER (PARTITION BY {strata_col}
                                ORDER BY md5(CAST({key} AS VARCHAR)), {key})
               AS rank
      FROM {table})
    WHERE rank <= {k}"""


def group_topk(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    k: int = 5,
    n_salts: int = 16,
) -> DataFrame:
    """Top-``k`` rows per group by ``order_col`` DESC (ties broken by
    ``id_col`` ASC) — "best k docs per language/domain", the per-group
    ranking every curation report needs — WITHOUT a per-group sort.

    The obvious window plan (``row_number() OVER (PARTITION BY group
    ORDER BY ...)``  ) sorts every group in full; with few, huge groups
    (languages over a web corpus) that is one straggler task per hot
    group sorting billions of rows to keep 5. Instead, the classic
    two-phase salted top-k: phase 1 groups on (group, salt =
    hash(id) mod n_salts) and keeps each bucket's top-k via
    ``slice(sort_array(collect_list(...)))`` — map-side combined, every
    partial state capped at k structs; phase 2 merges the ≤ n_salts·k
    survivors per group the same way. Every global top-k row is top-k
    within its salt bucket (the total order makes the argument exact),
    so the result equals the window plan row-for-row.

    Output: (group, rank, id, order value) with the original column
    names, integer-exact.
    """
    if k < 1 or n_salts < 1:
        raise ValueError("k and n_salts must be >= 1")
    # ascending struct sort == (order DESC, id ASC) via negation
    item = F.struct(
        (-F.col(order_col)).alias("_neg"), F.col(id_col).alias("_id")
    )
    topk = lambda c: F.slice(F.sort_array(c), 1, k)  # noqa: E731
    phase1 = (
        df.select(
            F.col(group_col),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).alias("_salt"),
            item.alias("_it"),
        )
        .groupBy(group_col, "_salt")
        .agg(topk(F.collect_list("_it")).alias("_top"))
    )
    merged = (
        phase1.select(group_col, F.explode("_top").alias("_it"))
        .groupBy(group_col)
        .agg(topk(F.collect_list("_it")).alias("_top"))
    )
    return merged.select(
        group_col, F.posexplode("_top").alias("_pos", "_it")
    ).select(
        group_col,
        (F.col("_pos") + 1).cast("int").alias("rank"),
        F.col("_it._id").alias(id_col),
        (-F.col("_it._neg")).alias(order_col),
    )


def group_topk_sql(
    table_expr: str,
    group_col: str,
    order_col: str,
    id_col: str,
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`group_topk` — the window form (the salted
    plan is provably row-identical to it; the twin IS the equivalence
    check)."""
    return f"""
    SELECT {group_col}, CAST(rank AS INTEGER) AS rank, {id_col}, {order_col}
    FROM (
      SELECT {group_col}, {id_col}, {order_col},
             ROW_NUMBER() OVER (PARTITION BY {group_col}
                                ORDER BY {order_col} DESC, {id_col}) AS rank
      FROM {table_expr})
    WHERE rank <= {k}"""


def stratified_split(
    df: DataFrame,
    key: str = "doc_id",
    train_256ths: int = 204,
    val_256ths: int = 26,
    salt: str = "split:v1:",
) -> DataFrame:
    """Deterministic TRAIN/VAL/TEST corpus split — the assignment every
    training run needs pinned before anything else touches the data:
    stable under re-runs, re-partitioning, cluster resizes, and corpus
    growth (a doc keeps its split forever; new docs land in expected
    proportions within every stratum simultaneously, because the hash is
    independent of any stratum column — no per-stratum bookkeeping).

    Same engine-neutral trick as :func:`sample_stratified`: the FIRST
    byte of ``md5(salt || key)`` as two lowercase hex chars compares
    lexicographically in numeric order, so the three-way split is two
    plain string comparisons, byte-identical in Spark and the SQL
    oracle. The ``salt`` decorrelates the split hash from every other
    md5-of-key decision in the pipeline (sampling, sharding) — without
    it, "test set" would alias "sample survivors".

    100 TB shape: a pure per-row projection — shuffle-free (audited).

    Adds a ``split`` column ∈ {train, val, test}; thresholds in 256ths
    (defaults ≈ 80/10/10).
    """
    if not (0 <= train_256ths and 0 <= val_256ths and train_256ths + val_256ths <= 256):
        raise ValueError("train/val 256ths must be non-negative and sum <= 256")
    byte_hex = F.substring(F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 2)
    t, v = f"{train_256ths:02x}", f"{train_256ths + val_256ths:02x}"
    split = (
        F.when(byte_hex < t, "train").when(byte_hex < v, "val").otherwise("test")
        if train_256ths + val_256ths < 256
        else F.when(byte_hex < t, "train").otherwise("val")
    )
    return df.withColumn("split", split)


def stratified_split_sql(
    key: str = "doc_id",
    train_256ths: int = 204,
    val_256ths: int = 26,
    salt: str = "split:v1:",
) -> str:
    """DuckDB twin of :func:`stratified_split` (the split expression)."""
    t, v = f"{train_256ths:02x}", f"{train_256ths + val_256ths:02x}"
    hx = f"substring(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 2)"
    return (
        f"CASE WHEN {hx} < '{t}' THEN 'train' "
        f"WHEN {hx} < '{v}' THEN 'val' ELSE 'test' END"
    )
