"""Plan compiler: pipeline IR → Catalyst logical plan.

Where the reference interprets its task graph per event in a Go loop
(``/root/reference/execute/transformNode.go:14-35``), we fold the whole
op chain into ONE DataFrame expression tree and let Catalyst do op
fusion, predicate pushdown, column pruning, and whole-stage codegen.
:func:`sink_chains` is the one plan walk, shared with the streaming
runner: each sink gets its source-to-sink op chain folded over the
source DataFrame (copy-isolation is free — DataFrames are immutable;
reference needs explicit deep copies, ``transformNode.go:38-56``). A
sink mid-chain is a chain that later sinks extend (post-sink
continuation, ``transformNode.go:58-62``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vaero_spark.operators import transforms as TR
from vaero_spark.plans.plan import OpNode, Plan


@dataclass
class CompiledPipeline:
    """Batch compilation result: one DataFrame per sink, keyed by sink
    name (``name`` arg, else ``<op>#<ordinal>``)."""

    sinks: dict[str, DataFrame] = field(default_factory=dict)
    source: DataFrame | None = None


SourceResolver = Callable[[SparkSession, OpNode], DataFrame]


def _default_source(spark: SparkSession, node: OpNode) -> DataFrame:
    from vaero_spark.sources.random_events import random_events_df
    from vaero_spark.sources.transcripts import load_transcripts

    if node.op == "transcripts":
        return load_transcripts(spark, node.args["sf_dir"])
    if node.op == "parquet":
        return spark.read.parquet(node.args["path"])
    if node.op == "random":
        return random_events_df(spark)
    if node.op == "dataframe":  # pre-built df injected by tests
        return node.args["df"]
    raise ValueError(f"unknown source op {node.op!r}")


def compile_batch(
    spark: SparkSession,
    plan: Plan,
    source_resolver: SourceResolver = _default_source,
) -> CompiledPipeline:
    root = plan.root
    if root.type != "source":
        raise ValueError("plan must start with a source node")
    src = source_resolver(spark, root)
    return CompiledPipeline(
        sinks={name: _apply_chain(ops)(src) for name, _, ops in sink_chains(plan)},
        source=src,
    )


def apply_tn(df: DataFrame, op: str, args: dict) -> DataFrame:
    if op == "add":
        return TR.add(df, args["path"], args["value"])
    if op == "delete":
        return TR.delete(df, args["path"])
    if op == "rename":
        return TR.rename(df, args["path"], args["new_path"])
    if op == "filter_regexp":
        return TR.filter_regexp(df, args["path"], args["regexp"])
    if op == "mask":
        return TR.mask(df, args["path"], args["regexp"], args["replace_expr"])
    if op == "parse_regexp":
        return TR.parse_regexp(df, args["path"], args["regexp"])
    if op == "select":
        return TR.select(df, args["path"])
    if op == "sample":
        return TR.hash_sample(df, args["rate_16ths"], args.get("key", "text"))
    if op == "dedup":
        return df.dropDuplicates(args["keys"])
    if op == "watermark":
        return df.withWatermark(args["column"], args["delay"])
    if op == "window":
        from vaero_spark.operators.windows import windowed_counts

        return windowed_counts(df, args["duration"], args.get("slide"), key=args.get("key", "conv_id"))
    if op == "session_window":
        from vaero_spark.operators.windows import session_windows

        return session_windows(df, args["gap"], key=args.get("key", "conv_id"))
    if op in ("annotate_quality", "annotate_lang"):
        from vaero_spark.functions.text import lang_id, quality_columns, tokens

        path = args.get("path", "text")
        # materialize the token array once; every annotation column
        # reuses the attribute (HOF re-evaluation rule)
        df = df.withColumn("_tok", tokens(path))
        if op == "annotate_quality":
            for name, col in quality_columns(path, tok=F.col("_tok")).items():
                df = df.withColumn(name, col)
        else:
            df = df.withColumn("lang", lang_id(path, tok=F.col("_tok")))
        return df.drop("_tok")
    raise ValueError(f"unknown transform op {op!r}")


def sink_chains(plan: Plan) -> list[tuple[str, OpNode, list[OpNode]]]:
    """[(sink_name, sink_node, tn-nodes from source to sink), ...] —
    a post-sink continuation keeps extending the same chain
    (``transformNode.go:58-62``), a >1-child node forks it."""
    chains: list[tuple[str, OpNode, list[OpNode]]] = []
    ctr = [0]

    def walk(node: OpNode, acc: list[OpNode]) -> None:
        while True:
            if node.type == "tn":
                acc = acc + [node]
            elif node.type == "sink":
                name = node.args.get("name") or f"{node.op}#{ctr[0]}"
                ctr[0] += 1
                if any(name == n for n, _, _ in chains):
                    raise ValueError(
                        f"duplicate sink name {name!r}: two branches would "
                        "silently collapse into one output — give each sink "
                        "a distinct name="
                    )
                chains.append((name, node, acc))
            elif node.type == "source":
                raise ValueError("source mid-chain")
            if not node.children:
                return
            if len(node.children) == 1:
                node = node.children[0]
                continue
            for child in node.children:
                walk(child, acc)
            return

    for child in plan.root.children:
        walk(child, [])
    return chains


def _apply_chain(ops: list[OpNode]) -> Callable[[DataFrame], DataFrame]:
    def fn(df: DataFrame) -> DataFrame:
        for node in ops:
            df = apply_tn(df, node.op, node.args)
        return df

    return fn
