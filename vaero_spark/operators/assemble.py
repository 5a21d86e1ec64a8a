"""Conversation-document assembly: turns → one training document per
conversation.

The canonical last step of a transcript training-data pipeline: collect
a conversation's turns in stable ``turn_idx`` order and render them as
one role-tagged document (the shape LLM pretraining/sft corpora want),
with integrity columns (turn count, char count, md5) that are integer/
string-exact across engines for the oracle gate.

Distributed shape: ONE shuffle on ``conv_id`` (the groupBy); the sort
happens per group via ``sort_array`` on the collected structs — no
global sort, no window over the whole table. The per-conversation array
is bounded by conversation length (transcripts, not firehoses), the same
boundedness assumption the reference's per-prefix sink buffers make
(``/root/reference/execute/sinkNode.go:80-101``).

The sorted array is materialized as a real column BEFORE the rendering
``transform`` touches it (module PERFORMANCE RULE in functions/text.py:
expressions inlined into higher-order-function lambdas re-evaluate per
element).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROLE_SEP = ": "
TURN_SEP = "\n"


def assemble_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """(turns) → (conv_id, doc, n_turns, doc_chars, doc_md5), one row
    per conversation; ``doc`` = 'role: text' lines joined by newline in
    ``order_col`` order (unique per conversation, so fully
    deterministic)."""
    turn = F.struct(
        F.col(order_col).alias("idx"),
        F.concat(F.col(role_col), F.lit(ROLE_SEP), F.col(text_col)).alias("line"),
    )
    agg = df.select(F.col(conv_col), turn.alias("t")).groupBy(conv_col).agg(
        F.sort_array(F.collect_list("t")).alias("_turns")
    )
    # _turns is an attribute here (own projection), so the transform
    # lambda slices a materialized array, not an expression tree
    doc = F.array_join(F.transform(F.col("_turns"), lambda t: t["line"]), TURN_SEP)
    return agg.select(
        F.col(conv_col),
        doc.alias("doc"),
        F.size("_turns").cast("bigint").alias("n_turns"),
    ).select(
        conv_col,
        "doc",
        "n_turns",
        F.length("doc").cast("bigint").alias("doc_chars"),
        F.md5("doc").alias("doc_md5"),
    )


def assemble_sql(table: str = "transcripts", conv_col: str = "conv_id") -> str:
    """DuckDB twin: ordered string_agg (same doc bytes, same md5)."""
    return f"""
        SELECT {conv_col}, doc,
               n_turns, CAST(length(doc) AS BIGINT) AS doc_chars,
               md5(doc) AS doc_md5
        FROM (
          SELECT {conv_col},
                 string_agg(role || '{ROLE_SEP}' || text, chr(10) ORDER BY turn_idx) AS doc,
                 COUNT(*) AS n_turns
          FROM {table} GROUP BY {conv_col}
        )"""


# ---------------------------------------------------------------------------
# sequence packing (token-budget bin packing for training sequences)
# ---------------------------------------------------------------------------

PACK_OUTPUT_DDL = "doc_id bigint, shard int, seq_idx int, n_tokens bigint"


def pack_sequences(
    df: DataFrame,
    budget_tokens: int = 512,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy token-budget sequence packing — the step that turns a
    curated document corpus into fixed-budget training sequences
    (next-in-order packing, the scheme most LLM data pipelines use so
    sequence composition is reproducible; no reference counterpart,
    SURVEY.md §2.7).

    Documents are sharded by ``doc_id % n_shards`` (shards pack
    independently and in parallel — at 100 TB raise ``n_shards`` to
    any multiple of the cluster's task slots; packing quality is
    per-shard and unaffected) and packed within each shard in
    ``doc_id`` order: a doc that would push the running sequence past
    ``budget_tokens`` starts the next sequence; an oversized doc
    occupies a sequence alone. Token counts are whitespace tokens
    (``functions/text.tokens`` — the oracle-exact counter).

    Distributed shape: one narrow pass computes (shard, n_tokens), one
    shuffle groups shards, and an ``applyInPandas`` runs the exact
    greedy loop per shard (O(shard rows), the same sequential-decision
    class as the reference sink's greedy byte-cap flush,
    ``sinkNode.go:105-125`` — the per-shard order dependency is
    inherent to packing, the
    parallelism comes from sharding). Output: (doc_id, shard, seq_idx,
    n_tokens) — integer-only, exactly reproduced by a recursive-CTE
    oracle.
    """
    import pandas as pd

    from vaero_spark.functions.text import tokens

    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq_idx, acc = 0, 0
        out = []
        for i, n in enumerate(pdf["n_tokens"]):
            n = int(n)
            if i == 0:
                acc = n
            elif acc + n > budget_tokens:
                seq_idx += 1
                acc = n
            else:
                acc += n
            out.append(seq_idx)
        pdf["seq_idx"] = pd.Series(out, dtype="int32")
        return pdf[["doc_id", "shard", "seq_idx", "n_tokens"]]

    return base.groupBy("shard").applyInPandas(_pack, PACK_OUTPUT_DDL)


def pack_sequences_sql(
    table: str,
    budget_tokens: int = 512,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Recursive-CTE oracle of :func:`pack_sequences` (same greedy
    rule, row by row per shard). The caller must put ``WITH RECURSIVE``
    in front (DuckDB requires it on the whole CTE chain)."""
    from vaero_spark.functions.text import tokens_sql

    return f"""
    sized AS (
      -- ((x % n) + n) % n == Spark's pmod: DuckDB's bare % follows the
      -- dividend's sign, so a negative doc_id would land in a different
      -- shard across engines (fixture ids are non-negative, but the
      -- twin must match pmod for ANY input)
      SELECT {id_col} AS doc_id,
             CAST((({id_col} % {n_shards}) + {n_shards}) % {n_shards} AS INTEGER) AS shard,
             CAST(len({tokens_sql(text_col)}) AS BIGINT) AS n_tokens
      FROM {table}),
    ordered AS (
      SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM sized),
    pack AS (
      SELECT shard, rn, doc_id, n_tokens,
             0 AS seq_idx, n_tokens AS acc
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
             CAST(CASE WHEN p.acc + o.n_tokens > {budget_tokens}
                  THEN p.seq_idx + 1 ELSE p.seq_idx END AS INTEGER),
             CASE WHEN p.acc + o.n_tokens > {budget_tokens}
                  THEN o.n_tokens ELSE p.acc + o.n_tokens END
      FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1)
    SELECT doc_id, shard, CAST(seq_idx AS INTEGER) AS seq_idx, n_tokens
    FROM pack"""


# ---------------------------------------------------------------------------
# token-window chunking (long-doc splitting for RAG / context windows)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (overlap = size - stride)


def chunk_tokens(
    df: DataFrame,
    chunk_size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into OVERLAPPING token-window chunks — the
    long-document splitting step of RAG indexing and context-window
    training prep (``corpus_pack`` concatenates short docs up to a
    budget; this is its inverse for docs LONGER than the window —
    together they normalize a corpus to sequence length). Chunk ``i``
    covers tokens ``[i·stride + 1, i·stride + chunk_size]``; every doc
    yields ``1 + ceil((n - chunk_size) / stride)`` chunks (min 1 — short
    and empty docs keep exactly one, so the op never drops rows).

    Output: (id, chunk_idx, n_chunk_tokens, chunk_md5) — integer/string
    exact (chunk text is hashed, sizes computed arithmetically, no
    floats anywhere).

    100 TB shape: pure narrow per-row expressions (token array
    materialized once per the functions/text.py PERFORMANCE RULE, chunk
    structs built by one HOF over precomputed chunk indices, then
    ``inline``) — shuffle-free, whole-stage codegen, output rows ≈
    input tokens / stride. Chunk sizes come from arithmetic
    (``least(chunk_size, n - i·stride)``), never a second slice.
    """
    cs, st = int(chunk_size), int(stride)
    if cs < 1 or st < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    from vaero_spark.functions.text import tokens

    base = (
        df.select(F.col(id_col), F.col(text_col))
        .withColumn("_tok", tokens(text_col))
        .withColumn("_n", F.size("_tok").cast("long"))
    )
    n_chunks = F.when(F.col("_n") <= cs, F.lit(1).cast("long")).otherwise(
        F.lit(1) + F.expr(f"CAST((_n - {cs} + {st} - 1) div {st} AS BIGINT)")
    )
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.least(F.lit(cs).cast("long"), F.col("_n") - i * st).alias(
                "n_chunk_tokens"
            ),
            F.md5(
                F.array_join(
                    F.slice(F.col("_tok"), (i * st + 1).cast("int"), cs), " "
                )
            ).alias("chunk_md5"),
        ),
    )
    return base.select(F.col(id_col), F.inline(chunks))


def chunk_tokens_sql(
    docs_table: str = "documents",
    chunk_size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`chunk_tokens`. ``//`` mirrors Spark's
    ``div`` (identical on the non-negative operands here); list slice
    bounds are inclusive, so ``chunk_size`` elements span
    ``[i·st+1, i·st+cs]``."""
    from vaero_spark.functions.text import tokens_sql

    cs, st = int(chunk_size), int(stride)
    tok = tokens_sql(text_col)
    return f"""
    base AS (SELECT {id_col}, {tok} AS tok FROM {docs_table}),
    sized AS (SELECT {id_col}, tok, CAST(len(tok) AS BIGINT) AS n FROM base),
    ch AS (SELECT {id_col}, tok, n,
                  CASE WHEN n <= {cs} THEN 1
                       ELSE 1 + (n - {cs} + {st} - 1) // {st} END AS n_chunks
           FROM sized)
    SELECT {id_col},
           CAST(g.i AS INTEGER) AS chunk_idx,
           CAST(least({cs}, n - g.i * {st}) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(tok[g.i * {st} + 1 : g.i * {st} + {cs}], ' ')) AS chunk_md5
    FROM ch, unnest(generate_series(0, n_chunks - 1)) AS g(i)"""
