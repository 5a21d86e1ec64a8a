"""Complex-event-processing pattern match over conversation transcripts.

The CEP primitive the north-star spec's streaming engine exists for:
"find conversations where this ordered pattern of events occurs" (a
tool-call loop the user had to interrupt, an assistant turn with no
following user reply, an escalation funnel). The reference engine has no
sequence operator at all — its transforms are per-event
(``/root/reference/execute/transformNode.go:14-35``) — so this is a
north-star addition in the MATCH_RECOGNIZE / Flink-CEP family, built
Spark-first.

Design: a conversation's turns are rendered (in stable ``turn_idx``
order) as a compact SYMBOL STRING — one character per turn from a
role→symbol map — and the pattern is a regular expression over that
alphabet. Regex-over-symbols is exactly the classical CEP automaton
(Kleene-closure sequence patterns, SASE/Flink-CEP style) with the
engine's native regex runtime as the NFA. All outputs are integer/
string arithmetic, so the DuckDB twin is bit-exact:

- ``n_matches``: non-overlapping left-to-right match count. Java
  (``Matcher.find`` loop, Spark's ``regexp_count``) and RE2 (DuckDB's
  ``regexp_extract_all``) both scan leftmost-first with greedy
  quantifiers, so counts agree for patterns over this alphabet.
- ``first_match_turn``: 0-based ``turn_idx`` of the first match start =
  length of the lazy prefix ``^(.*?)`` before the pattern — the same
  leftmost-first semantics in both engines.

Distributed shape (the ``assemble_conversations`` class): ONE shuffle on
``conv_id``, per-group ``sort_array`` on bounded conversation-length
arrays — no global sort, no window over the table; the regex runs as a
narrow projection after the aggregate. At 100 TB the conversation is the
natural parallel unit and symbol strings are ~4 orders of magnitude
smaller than the transcripts they index.

Constraints (documented, asserted): the pattern must not match the empty
string (a ``*``-only pattern would make "first match" ill-defined and
the non-overlapping count engine-divergent), and must use only the
portable regex core (literals, classes, ``+ * ? {m,n}``, alternation,
grouping) — no backreferences or lookaround, which RE2 lacks.

The ``stream_cep_*`` twins run in the JVM: one ``flatMapGroupsWithState``
core, ``vaero.state.Reassembly`` (``jvm/src/vaero/state/``, in
``jvm/vaero.jar``), reassembles each conversation's turns around one
pattern step (Kleene, absence, within, time-based absence). Python
validates the arguments, projects the narrow input in SQL (the role's
symbol and the event time in µs) and sets the watermark; no event
crosses into a Python worker.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vaero_spark.session import JAR

#: default role → symbol alphabet for transcript tables
ROLE_SYMBOLS = {"user": "u", "assistant": "a", "tool": "t", "system": "s"}
#: unmapped roles render as '?' — keep it out of patterns
UNKNOWN_SYMBOL = "?"


def _check_pattern(pattern: str, symbols: dict[str, str]) -> None:
    if re.fullmatch(pattern, ""):
        raise ValueError(f"pattern {pattern!r} matches the empty string")
    if re.search(r"\\\d|\(\?<?[=!]", pattern):
        raise ValueError(f"pattern {pattern!r} uses non-portable regex (RE2 has no backrefs/lookaround)")
    for sym in symbols.values():
        if len(sym) != 1 or sym == UNKNOWN_SYMBOL:
            raise ValueError(f"symbols must be single non-{UNKNOWN_SYMBOL!r} chars, got {sym!r}")
    if len(set(symbols.values())) != len(symbols):
        raise ValueError("role symbols must be distinct")


def _symbol_expr(role_col: str, symbols: dict[str, str]):
    expr = F.lit(UNKNOWN_SYMBOL)
    for role, sym in sorted(symbols.items()):
        expr = F.when(F.col(role_col) == role, F.lit(sym)).otherwise(expr)
    return expr


def cep_match(
    df: DataFrame,
    pattern: str,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    symbols: dict[str, str] = ROLE_SYMBOLS,
) -> DataFrame:
    """(turns) → (conv_id, n_turns, n_matches, first_match_turn), one
    row per conversation whose role-symbol sequence matches ``pattern``
    at least once; ``first_match_turn`` is the 0-based ``order_col``
    position where the first (leftmost) match starts."""
    _check_pattern(pattern, symbols)
    turn = F.struct(
        F.col(order_col).alias("idx"),
        _symbol_expr(role_col, symbols).alias("c"),
    )
    agg = df.select(F.col(conv_col), turn.alias("t")).groupBy(conv_col).agg(
        F.sort_array(F.collect_list("t")).alias("_turns")
    )
    # _turns is an attribute of its own projection (module PERFORMANCE
    # RULE in functions/text.py): the transform slices a materialized
    # array, not a re-evaluated expression tree
    seq = F.array_join(F.transform(F.col("_turns"), lambda t: t["c"]), "")
    scored = agg.select(
        F.col(conv_col),
        F.size("_turns").cast("bigint").alias("n_turns"),
        seq.alias("_seq"),
    ).select(
        conv_col,
        "n_turns",
        F.regexp_count("_seq", F.lit(pattern)).cast("bigint").alias("n_matches"),
        F.length(F.regexp_extract("_seq", f"^(.*?)(?:{pattern})", 1))
        .cast("bigint")
        .alias("first_match_turn"),
    )
    return scored.filter(F.col("n_matches") > 0)


def cep_match_sql(
    table: str,
    pattern: str,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    symbols: dict[str, str] = ROLE_SYMBOLS,
) -> str:
    """DuckDB twin of :func:`cep_match` (RE2 leftmost-first matches the
    Java matcher for the portable regex core; counts via
    ``regexp_extract_all``, first position via the lazy-prefix trick)."""
    _check_pattern(pattern, symbols)
    whens = " ".join(
        f"WHEN '{role}' THEN '{sym}'" for role, sym in sorted(symbols.items())
    )
    sym_case = f"CASE {role_col} {whens} ELSE '{UNKNOWN_SYMBOL}' END"
    pat = pattern.replace("'", "''")
    return f"""
    SELECT {conv_col}, n_turns, n_matches, first_match_turn FROM (
      SELECT {conv_col},
             CAST(n_turns AS BIGINT) AS n_turns,
             CAST(len(regexp_extract_all(seq, '{pat}')) AS BIGINT) AS n_matches,
             CAST(length(regexp_extract(seq, '^(.*?)(?:{pat})', 1)) AS BIGINT)
               AS first_match_turn
      FROM (
        SELECT {conv_col},
               string_agg({sym_case}, '' ORDER BY {order_col}) AS seq,
               COUNT(*) AS n_turns
        FROM {table} GROUP BY {conv_col}
      ))
    WHERE n_matches > 0"""


# ---------------------------------------------------------------------------
# CEP negation — trigger NOT followed by response within k turns
# ---------------------------------------------------------------------------


def cep_absence(
    df: DataFrame,
    trigger_role: str = "user",
    response_role: str = "assistant",
    k: int = 3,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """ABSENCE pattern (CEP negation): per conversation, find trigger
    turns with NO response turn within the next ``k`` turns — the
    Flink-CEP ``notFollowedBy`` / MATCH_RECOGNIZE negation class
    ("user turn never answered", "order placed, no shipment event"),
    the one CEP shape a positive regex scan cannot count: dangling
    triggers may overlap (``uuu`` with k=3 is up to three dangling
    turns), so a non-overlapping match count under-reports.

    Exact position arithmetic instead: a reversed running ``min`` gives
    every turn the index of the NEXT response turn in its conversation
    (one window, PARTITIONED by conversation — bounded, never global);
    a trigger is dangling iff that index is absent or more than ``k``
    ahead. A trigger within the last ``k`` turns of the conversation
    with no response before the end counts as dangling (end-of-stream
    = no response came), matching the streaming twin's drained fold.

    Output: (conv_id, n_turns, n_triggers, n_dangling,
    first_dangling_turn), conversations with >= 1 dangling trigger,
    pure integer arithmetic.
    """
    if trigger_role == response_role:
        raise ValueError("trigger and response roles must differ")
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    w_after = (
        Window.partitionBy(conv_col)
        .orderBy(F.col(order_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    next_resp = F.min(
        F.when(F.col(role_col) == response_role, F.col(order_col))
    ).over(w_after)
    base = df.withColumn("_next_resp", next_resp)
    is_trig = F.col(role_col) == trigger_role
    dangling = is_trig & (
        F.col("_next_resp").isNull()
        | (F.col("_next_resp") - F.col(order_col) > k)
    )
    return (
        base.groupBy(conv_col)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(is_trig, 1).otherwise(0)).cast("bigint").alias("n_triggers"),
            F.sum(F.when(dangling, 1).otherwise(0)).cast("bigint").alias("n_dangling"),
            F.min(F.when(dangling, F.col(order_col))).cast("bigint").alias(
                "first_dangling_turn"
            ),
        )
        .filter(F.col("n_dangling") > 0)
    )


def cep_absence_sql(
    table: str,
    trigger_role: str = "user",
    response_role: str = "assistant",
    k: int = 3,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
) -> str:
    """DuckDB twin of :func:`cep_absence` (standalone SELECT): the same
    reversed-window next-response index. SUM casts OUTSIDE (HUGEINT
    rule)."""
    return f"""
    SELECT {conv_col}, n_turns, n_triggers, n_dangling, first_dangling_turn
    FROM (
      SELECT {conv_col},
             COUNT(*) AS n_turns,
             CAST(SUM(CASE WHEN {role_col} = '{trigger_role}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_triggers,
             CAST(SUM(CASE WHEN _dangling THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dangling,
             CAST(MIN(CASE WHEN _dangling THEN {order_col} END) AS BIGINT)
               AS first_dangling_turn
      FROM (
        SELECT {conv_col}, {order_col}, {role_col},
               ({role_col} = '{trigger_role}') AND (
                 _next_resp IS NULL OR _next_resp - {order_col} > {k}
               ) AS _dangling
        FROM (
          SELECT {conv_col}, {order_col}, {role_col},
                 MIN(CASE WHEN {role_col} = '{response_role}'
                          THEN {order_col} END)
                   OVER (PARTITION BY {conv_col} ORDER BY {order_col} DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS _next_resp
          FROM {table}))
      GROUP BY {conv_col})
    WHERE n_dangling > 0"""


# ---------------------------------------------------------------------------
# time-bounded CEP — pattern must complete within a wall-clock span
# ---------------------------------------------------------------------------


def cep_within(
    df: DataFrame,
    literal: str = "ttu",
    max_span_s: int = 3600,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    symbols: dict[str, str] = ROLE_SYMBOLS,
) -> DataFrame:
    """TIME-BOUNDED CEP — the Flink-CEP ``within()`` clause: a literal
    role sequence counts only if it COMPLETES within ``max_span_s``
    seconds of its first event ("two tool calls then a user interrupt,
    all inside an hour"). Event time enters the match predicate itself,
    which the symbol-string regex of :func:`cep_match` cannot express.

    Shape: a lead-chain window PARTITIONED by conversation — position i
    matches iff the next ``len(literal)-1`` roles spell the literal and
    the last one's timestamp is within the span. Counts are SLIDING
    (every qualifying start position; overlaps allowed) — the within-
    clause question is per-start, unlike :func:`cep_match`'s
    non-overlapping scan; documented semantic difference.

    Output: (conv_id, n_turns, n_within, first_within_turn),
    conversations with >= 1 time-qualified match; millisecond-integer
    span arithmetic.
    """
    _check_pattern(literal, symbols)
    if len(literal) < 2:
        raise ValueError("within-patterns need >= 2 symbols (a span needs two ends)")
    if not set(literal) <= set(symbols.values()):
        raise ValueError(f"literal {literal!r} uses symbols outside the alphabet")
    if max_span_s < 0:
        raise ValueError("max_span_s must be >= 0")
    from pyspark.sql import Window

    L = len(literal)
    w = Window.partitionBy(conv_col).orderBy(order_col)
    sym = _symbol_expr(role_col, symbols)
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    hit = sym == literal[0]
    for j in range(1, L):
        hit = hit & (F.lead(sym, j).over(w) == literal[j])
    hit = hit & (
        F.lead(ms, L - 1).over(w) - ms <= F.lit(max_span_s * 1000).cast("long")
    )
    return (
        df.withColumn("_hit", hit)
        .groupBy(conv_col)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("_hit"), 1).otherwise(0)).cast("bigint").alias("n_within"),
            F.min(F.when(F.col("_hit"), F.col(order_col))).cast("bigint").alias(
                "first_within_turn"
            ),
        )
        .filter(F.col("n_within") > 0)
    )


def cep_within_sql(
    table: str,
    literal: str = "ttu",
    max_span_s: int = 3600,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    symbols: dict[str, str] = ROLE_SYMBOLS,
) -> str:
    """DuckDB twin of :func:`cep_within` (standalone SELECT): the same
    lead chain. SUM casts OUTSIDE (HUGEINT rule)."""
    _check_pattern(literal, symbols)
    whens = " ".join(
        f"WHEN '{role}' THEN '{sym}'" for role, sym in sorted(symbols.items())
    )
    sym_case = f"CASE {role_col} {whens} ELSE '{UNKNOWN_SYMBOL}' END"
    L = len(literal)
    conds = [f"_s0 = '{literal[0]}'"] + [
        f"lead(_s0, {j}) OVER w = '{literal[j]}'" for j in range(1, L)
    ]
    conds.append(f"lead(_ms, {L - 1}) OVER w - _ms <= {max_span_s * 1000}")
    return f"""
    SELECT {conv_col}, n_turns, n_within, first_within_turn FROM (
      SELECT {conv_col},
             COUNT(*) AS n_turns,
             CAST(SUM(CASE WHEN _hit THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
             CAST(MIN(CASE WHEN _hit THEN {order_col} END) AS BIGINT)
               AS first_within_turn
      FROM (
        SELECT {conv_col}, {order_col},
               COALESCE({' AND '.join(conds)}, FALSE) AS _hit
        FROM (
          SELECT {conv_col}, {order_col},
                 {sym_case} AS _s0,
                 epoch_ms(CAST({ts_col} AS TIMESTAMP)) AS _ms
          FROM {table})
        WINDOW w AS (PARTITION BY {conv_col} ORDER BY {order_col}))
      GROUP BY {conv_col})
    WHERE n_within > 0"""


# ---------------------------------------------------------------------------
# streaming CEP — one sequence-reassembly core in the JVM, one step per pattern
# ---------------------------------------------------------------------------


def _reassembly_class(spark):
    """``vaero.state.Reassembly`` in ``spark``'s JVM. Without the jar py4j
    resolves the name to a package, and the query would fail only once it
    ran; fail while it is built instead."""
    from py4j.java_gateway import JavaClass

    cls = spark._jvm.vaero.state.Reassembly
    if not isinstance(cls, JavaClass):
        raise RuntimeError(
            f"vaero.state.Reassembly is not on the driver's classpath: the "
            f"streaming CEP operators need {JAR}. get_spark adds it for "
            "in-process local masters; give other masters and spark-submit "
            "the jar with --jars or spark.jars"
        )
    return cls


def _stream_reassembled(
    stream: DataFrame,
    step: str,
    args: list,
    watermark: str,
    symbols: dict[str, str],
    idle_timeout_seconds: int,
) -> DataFrame:
    """``stream`` through the JVM core's pattern ``step`` with ``args``:
    turns wait until the contiguous ``turn_idx`` prefix reaches them
    (first arrival wins; consumed turns, late duplicates and null
    ``turn_idx`` rows drop), one row goes out whenever the prefix
    advances, and an idle conversation's state is removed, emitting
    nothing. The core reads the narrow projection only: the role's
    symbol and the event time in µs are computed here in SQL."""
    spark = stream.sparkSession
    core = _reassembly_class(spark)
    turns = stream.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        _symbol_expr("role", symbols).alias("sym"),
        "ts",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).withWatermark("ts", watermark)
    return DataFrame(core.stream(turns._jdf, step, args, idle_timeout_seconds), spark)


# Bounded-quantifier (Kleene-class) streaming patterns: a CONCATENATION
# of quantified atoms — symbol or [class], each optionally followed by
# {m}, {m,n}, or ? — the Flink-CEP sequence-pattern shape (begin/next/
# times/optional chains are exactly concatenations of quantified
# atoms). No alternation or nesting: for this class the earliest-
# completion match at a position is the unique shortest one, which is
# what makes streaming finalization sound (below).
_KLEENE_ATOM = re.compile(
    r"(?:\[(?P<cls>[a-z]+)\]|(?P<sym>[a-z]))"
    r"(?:\{(?P<m>\d+)(?:,(?P<n>\d+))?\}|(?P<opt>\?))?"
)


def parse_kleene_pattern(pattern: str, symbols: dict[str, str]) -> tuple[int, int, str]:
    """Validate a bounded-quantifier streaming pattern and return
    ``(min_len, max_len, lazy_pattern)`` — the lazy (reluctant) form is
    the batch/SQL twin: with every quantifier reluctant, Java and RE2's
    leftmost non-overlapping scan implements exactly the
    earliest-completion semantics the streaming machine uses."""
    alphabet = set(symbols.values())
    l_min = l_max = 0
    lazy_parts: list[str] = []
    pos = 0
    while pos < len(pattern):
        m = _KLEENE_ATOM.match(pattern, pos)
        if not m:
            raise ValueError(
                f"pattern {pattern!r}: unsupported syntax at {pos} — "
                "stream_cep_kleene takes a concatenation of quantified "
                "atoms (symbol or [class], with {m}, {m,n} or ?); "
                "alternation/nesting/unbounded +* stay batch-side in "
                "cep_match"
            )
        used = set(m.group("cls") or m.group("sym"))
        if not used <= alphabet:
            raise ValueError(
                f"pattern {pattern!r} uses symbols {sorted(used - alphabet)} "
                f"outside the alphabet {sorted(alphabet)}"
            )
        atom = f"[{m.group('cls')}]" if m.group("cls") else m.group("sym")
        if m.group("m") is not None:
            lo = int(m.group("m"))
            hi = int(m.group("n")) if m.group("n") is not None else lo
            if hi < lo:
                raise ValueError(f"pattern {pattern!r}: {{m,n}} needs n >= m")
            quant = f"{{{lo},{hi}}}?" if hi > lo else f"{{{lo}}}"
        elif m.group("opt"):
            lo, hi, quant = 0, 1, "??"
        else:
            lo, hi, quant = 1, 1, ""
        l_min += lo
        l_max += hi
        lazy_parts.append(atom + quant)
        pos = m.end()
    if l_min < 1:
        raise ValueError(f"pattern {pattern!r} can match the empty string")
    return l_min, l_max, "".join(lazy_parts)


def stream_cep_kleene(
    stream: DataFrame,
    pattern: str,
    watermark: str = "10 minutes",
    symbols: dict[str, str] = ROLE_SYMBOLS,
    idle_timeout_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Streaming CEP with BOUNDED KLEENE quantifiers (VERDICT r5 #5):
    match patterns like ``t{2,3}u`` ("2-3 consecutive tool calls, then
    a user interrupt") per conversation as turns arrive, out-of-order
    safe, with the same pending-buffer sequence reassembly as
    :func:`stream_cep_match`.

    Semantics: EARLIEST COMPLETION (leftmost, shortest, non-
    overlapping) — the classic CEP "emit as soon as the pattern
    completes" rule (SASE / Flink-CEP's skip-to-next-match), NOT the
    batch regex default of greedy. Greedy matches are not prefix-final
    (a match could still grow with future turns, so a greedy streaming
    matcher either buffers unboundedly or disagrees with its oracle);
    shortest matches are decidable from already-seen symbols alone.
    State holds only SETTLED decisions (final whatever arrives later:
    found matches, and no-matches with >= max_len lookahead — a
    no-match with less lookahead could still complete AND absorb any
    later match, so everything from the first such position is carried
    unsettled, bounding state by ``max_len(pattern) + out-of-order
    gap``); each emission folds in a fresh end-of-stream scan of that
    tiny carry, so EVERY emission equals the batch scan of the prefix
    seen so far — not just the drained final one. The exact batch/SQL
    twin is the same pattern with every quantifier made RELUCTANT
    (``t{2,3}?u``) — Java and RE2 both implement earliest completion
    for reluctant quantifiers over this pattern class (a concatenation
    of quantified atoms has a unique shortest match per position;
    alternation/nesting, where reluctant != shortest, is rejected at
    parse time), so drained == ``cep_match(pattern_lazy)`` row for
    row.

    Emits (conv_id, n_turns, n_matches, first_match_turn) in UPDATE
    mode whenever the contiguous prefix advances.
    """
    l_min, l_max, lazy = parse_kleene_pattern(pattern, symbols)
    return _stream_reassembled(
        stream, "kleene", [lazy, l_min, l_max], watermark, symbols, idle_timeout_seconds
    )


def stream_cep_match(
    stream: DataFrame,
    literal: str,
    watermark: str = "10 minutes",
    symbols: dict[str, str] = ROLE_SYMBOLS,
    idle_timeout_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Streaming CEP over a live transcript stream: detect a FIXED
    literal role-symbol sequence (e.g. ``"ttu"``) per conversation as
    turns arrive, robust to out-of-order arrival across micro-batches.

    The classic streaming-CEP state machine, specialized to literal
    sequences so state stays provably bounded: out-of-order turns wait
    in a pending buffer until the contiguous ``turn_idx`` prefix
    reaches them (sequence reassembly); consumed symbols are scanned
    left-to-right non-overlapping, and only the unmatched tail
    (< pattern length) is carried — so per-conversation state is
    O(pattern + out-of-order gap), never O(conversation). A literal is
    the fixed-length case of :func:`stream_cep_kleene`'s scan. Bounded
    quantifiers (``t{2,3}u``) stream through :func:`stream_cep_kleene`;
    only unbounded ``+``/``*`` patterns (``tt+u``) need unbounded
    lookahead and stay batch-side in :func:`cep_match`.

    Emits (conv_id, n_turns, n_matches, first_match_turn) in UPDATE
    mode whenever the contiguous prefix advances; after a full drain
    the last emission per conversation equals :func:`cep_match` on the
    same rows with ``pattern=literal`` — an exact cross-check between
    the streaming state machine and the batch SQL oracle. Turn indexes
    are assumed 0-based contiguous per conversation (the canonical
    transcripts derivation guarantees it).
    """
    if not literal:
        raise ValueError("literal pattern must be non-empty")
    alphabet = set(symbols.values())
    if not set(literal) <= alphabet:
        raise ValueError(f"literal {literal!r} uses symbols outside {sorted(alphabet)}")
    _check_pattern(literal, symbols)
    # the fixed-length Kleene case; re.escape leaves a java.util.regex
    # pattern of the same meaning (it escapes no letter or digit)
    args = [re.escape(literal), len(literal), len(literal)]
    return _stream_reassembled(stream, "kleene", args, watermark, symbols, idle_timeout_seconds)


# ---------------------------------------------------------------------------
# streaming CEP negation — absence detection with bounded per-conv state
# ---------------------------------------------------------------------------


def stream_cep_absence(
    stream: DataFrame,
    trigger_role: str = "user",
    response_role: str = "assistant",
    k: int = 3,
    watermark: str = "10 minutes",
    symbols: dict[str, str] = ROLE_SYMBOLS,
    idle_timeout_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """STREAMING absence detection — the live twin of
    :func:`cep_absence` ("alert when a user turn goes unanswered for k
    turns"). Negation is the streaming-CEP capability that REQUIRES
    state + timers: a positive pattern completes on an arriving event,
    but absence is confirmed only by what does NOT arrive — here by the
    k-turn count window filling up (turn-count semantics; the idle
    timeout additionally closes conversations that simply stop).

    Same pending-buffer sequence reassembly as :func:`stream_cep_match`
    (out-of-order safe, duplicate safe). Per-conversation state holds
    only OPEN triggers — positions within the last k consumed turns
    still awaiting a response, so |state| <= k+1 + the disorder gap,
    never the conversation: a trigger older than k turns settles as
    dangling (final: its whole window was seen), and a response settles
    every surviving open trigger as answered (final: they were all
    within k). Each emission folds the open triggers in as dangling-at-
    prefix-end, so EVERY emission equals the batch
    :func:`cep_absence` over the prefix seen so far, and the drained
    last emission per conversation equals the batch run row for row
    (conversations with n_dangling = 0 emit too; the gate filters, as
    the batch side does).

    Emits (conv_id, n_turns, n_triggers, n_dangling,
    first_dangling_turn) in UPDATE mode whenever the contiguous prefix
    advances.
    """
    if trigger_role == response_role:
        raise ValueError("trigger and response roles must differ")
    if k < 1:
        raise ValueError("k must be >= 1")
    args = [symbols[trigger_role], symbols[response_role], k]
    return _stream_reassembled(stream, "absence", args, watermark, symbols, idle_timeout_seconds)


# ---------------------------------------------------------------------------
# streaming time-bounded CEP — the within() clause as a live detector
# ---------------------------------------------------------------------------


def stream_cep_within(
    stream: DataFrame,
    literal: str = "ttu",
    max_span_s: int = 3600,
    watermark: str = "10 minutes",
    symbols: dict[str, str] = ROLE_SYMBOLS,
    idle_timeout_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """STREAMING time-bounded CEP — the live :func:`cep_within`
    ("alert when the sequence completes inside the span"). The simplest
    of the streaming CEP machines, and provably so: a SLIDING start
    settles the instant its ``len(literal)``-turn window completes —
    symbols already consumed, span check pure ms arithmetic — so state
    is exactly the last ``len(literal)-1`` turns (plus the disorder
    buffer) and EVERY emission equals the batch lead-chain scan of the
    seen prefix with no end-of-stream fold at all (a position without
    full lookahead is not a match in the batch semantics either).
    Drained == :func:`cep_within` row for row (same SQL oracle).

    Emits (conv_id, n_turns, n_within, first_within_turn) in UPDATE
    mode whenever the contiguous prefix advances.
    """
    _check_pattern(literal, symbols)
    if len(literal) < 2:
        raise ValueError("within-patterns need >= 2 symbols (a span needs two ends)")
    if not set(literal) <= set(symbols.values()):
        raise ValueError(f"literal {literal!r} uses symbols outside the alphabet")
    if max_span_s < 0:
        raise ValueError("max_span_s must be >= 0")
    args = [literal, max_span_s * 1000]
    return _stream_reassembled(stream, "within", args, watermark, symbols, idle_timeout_seconds)



# ---------------------------------------------------------------------------
# multi-pattern CEP — a pattern library over ONE assembly pass
# ---------------------------------------------------------------------------


def cep_match_multi(
    df: DataFrame,
    patterns: dict[str, str],
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    symbols: dict[str, str] = ROLE_SYMBOLS,
) -> DataFrame:
    """PATTERN LIBRARY scan: evaluate a whole dictionary of CEP
    patterns in ONE conversation-assembly pass — the production shape
    of CEP monitoring (a library of named behavioral signatures, not
    one query per pattern). N separate :func:`cep_match` calls would
    shuffle and re-assemble the corpus N times; here the symbol string
    is built once and the N regex evaluations are narrow projections
    over it (amortized scan, audited single Aggregate).

    Output: (conv_id, pattern, n_matches, first_match_turn), one row
    per (conversation, matched pattern) with the same per-pattern
    semantics as :func:`cep_match`.
    """
    if not patterns:
        raise ValueError("patterns must be non-empty")
    for p in patterns.values():
        _check_pattern(p, symbols)
    turn = F.struct(
        F.col(order_col).alias("idx"),
        _symbol_expr(role_col, symbols).alias("c"),
    )
    agg = df.select(F.col(conv_col), turn.alias("t")).groupBy(conv_col).agg(
        F.sort_array(F.collect_list("t")).alias("_turns")
    )
    seq = F.array_join(F.transform(F.col("_turns"), lambda t: t["c"]), "")
    base = agg.select(F.col(conv_col), seq.alias("_seq"))
    per_pat = F.array(
        *[
            F.struct(
                F.lit(name).alias("pattern"),
                F.regexp_count("_seq", F.lit(pat)).cast("bigint").alias("n_matches"),
                F.length(F.regexp_extract("_seq", f"^(.*?)(?:{pat})", 1))
                .cast("bigint")
                .alias("first_match_turn"),
            )
            for name, pat in sorted(patterns.items())
        ]
    )
    return (
        base.select(F.col(conv_col), F.explode(per_pat).alias("_m"))
        .select(conv_col, "_m.pattern", "_m.n_matches", "_m.first_match_turn")
        .filter(F.col("n_matches") > 0)
    )


def cep_match_multi_sql(
    table: str,
    patterns: dict[str, str],
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    symbols: dict[str, str] = ROLE_SYMBOLS,
) -> str:
    """DuckDB twin of :func:`cep_match_multi` (caller supplies
    ``WITH``): one symbol-string CTE + a per-pattern UNION ALL over
    it."""
    for p in patterns.values():
        _check_pattern(p, symbols)
    whens = " ".join(
        f"WHEN '{role}' THEN '{sym}'" for role, sym in sorted(symbols.items())
    )
    sym_case = f"CASE {role_col} {whens} ELSE '{UNKNOWN_SYMBOL}' END"
    branches = []
    for name, pat in sorted(patterns.items()):
        pq = pat.replace("'", "''")
        branches.append(f"""
      SELECT {conv_col}, '{name}' AS pattern,
             CAST(len(regexp_extract_all(seq, '{pq}')) AS BIGINT) AS n_matches,
             CAST(length(regexp_extract(seq, '^(.*?)(?:{pq})', 1)) AS BIGINT)
               AS first_match_turn
      FROM cmm_seq""")
    return f"""
    cmm_seq AS (
      SELECT {conv_col}, string_agg({sym_case}, '' ORDER BY {order_col}) AS seq
      FROM {table} GROUP BY {conv_col})
    SELECT * FROM ({' UNION ALL '.join(branches)})
    WHERE n_matches > 0"""


# ---------------------------------------------------------------------------
# time-based CEP negation — trigger with no response within T seconds
# ---------------------------------------------------------------------------


def cep_absence_time(
    df: DataFrame,
    trigger_role: str = "user",
    response_role: str = "assistant",
    max_wait_s: int = 3600,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
) -> DataFrame:
    """TIME-based absence (the true Flink ``notFollowedBy().within(T)``
    shape): trigger turns whose next response turn — by conversation
    order — arrives more than ``max_wait_s`` seconds later, or never
    ("user waited an hour with no answer"). The count-based sibling
    :func:`cep_absence` asks "within k turns"; operations teams ask in
    wall-clock, which is this operator. Millisecond-integer arithmetic
    on the same reversed-running-min shape (here over the response
    TIMESTAMP), one conversation-partitioned window + one groupBy.

    Output: (conv_id, n_turns, n_triggers, n_dangling,
    first_dangling_turn), conversations with >= 1 timed-out trigger.
    """
    if trigger_role == response_role:
        raise ValueError("trigger and response roles must differ")
    if max_wait_s < 0:
        raise ValueError("max_wait_s must be >= 0")
    from pyspark.sql import Window

    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    w_after = (
        Window.partitionBy(conv_col)
        .orderBy(F.col(order_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    next_resp_ms = F.min(
        F.when(F.col(role_col) == response_role, ms)
    ).over(w_after)
    base = df.withColumn("_ms", ms).withColumn("_next_resp_ms", next_resp_ms)
    is_trig = F.col(role_col) == trigger_role
    dangling = is_trig & (
        F.col("_next_resp_ms").isNull()
        | (F.col("_next_resp_ms") - F.col("_ms") > F.lit(max_wait_s * 1000).cast("long"))
    )
    return (
        base.groupBy(conv_col)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(is_trig, 1).otherwise(0)).cast("bigint").alias("n_triggers"),
            F.sum(F.when(dangling, 1).otherwise(0)).cast("bigint").alias("n_dangling"),
            F.min(F.when(dangling, F.col(order_col))).cast("bigint").alias(
                "first_dangling_turn"
            ),
        )
        .filter(F.col("n_dangling") > 0)
    )


def cep_absence_time_sql(
    table: str,
    trigger_role: str = "user",
    response_role: str = "assistant",
    max_wait_s: int = 3600,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`cep_absence_time` (standalone SELECT)."""
    ms = f"epoch_ms(CAST({ts_col} AS TIMESTAMP))"
    return f"""
    SELECT {conv_col}, n_turns, n_triggers, n_dangling, first_dangling_turn
    FROM (
      SELECT {conv_col},
             COUNT(*) AS n_turns,
             CAST(SUM(CASE WHEN {role_col} = '{trigger_role}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_triggers,
             CAST(SUM(CASE WHEN _dangling THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dangling,
             CAST(MIN(CASE WHEN _dangling THEN {order_col} END) AS BIGINT)
               AS first_dangling_turn
      FROM (
        SELECT {conv_col}, {order_col}, {role_col},
               ({role_col} = '{trigger_role}') AND (
                 _next_resp_ms IS NULL
                 OR _next_resp_ms - _ms > {max_wait_s * 1000}
               ) AS _dangling
        FROM (
          SELECT {conv_col}, {order_col}, {role_col}, {ms} AS _ms,
                 MIN(CASE WHEN {role_col} = '{response_role}'
                          THEN {ms} END)
                   OVER (PARTITION BY {conv_col} ORDER BY {order_col} DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS _next_resp_ms
          FROM {table}))
      GROUP BY {conv_col})
    WHERE n_dangling > 0"""


def stream_cep_absence_time(
    stream: DataFrame,
    trigger_role: str = "user",
    response_role: str = "assistant",
    max_wait_s: int = 3600,
    watermark: str = "10 minutes",
    symbols: dict[str, str] = ROLE_SYMBOLS,
    idle_timeout_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """STREAMING time-based absence — the live
    :func:`cep_absence_time` and the true Flink
    ``notFollowedBy().within(Time)``: a trigger settles as DANGLING the
    moment a later turn's event time proves the wait window elapsed
    unanswered (event time, not wall clock, drives the decision — per-
    conversation timestamps are non-decreasing in turn order, so a turn
    past a trigger's deadline means every turn in the window was seen).
    A response settles all surviving open triggers as answered. Open
    state is bounded by the trigger arrival rate within one wait window
    (+ the disorder buffer); each emission folds open triggers in as
    dangling-at-prefix-end, so every emission equals the batch scan of
    the seen prefix, and drained == :func:`cep_absence_time` row for
    row (same SQL oracle). Null ``ts`` follows the batch twin: a
    null-time response answers nothing, and a null-time trigger is
    dangling unless some later timed response exists.

    Emits (conv_id, n_turns, n_triggers, n_dangling,
    first_dangling_turn) in UPDATE mode on contiguous-prefix advance.

    PRECONDITION (ADVICE r6): per-conversation event time must be
    non-decreasing in ``turn_idx`` — the dangling settlement reads "a
    later turn past the deadline proves the window elapsed", which only
    holds under that monotonicity (the canonical transcripts derivation
    guarantees it: ``ts`` is strictly increasing within a conversation).
    On data violating it the streamed result can settle triggers early
    and diverge from the batch :func:`cep_absence_time` oracle.
    """
    if trigger_role == response_role:
        raise ValueError("trigger and response roles must differ")
    if max_wait_s < 0:
        raise ValueError("max_wait_s must be >= 0")
    args = [symbols[trigger_role], symbols[response_role], max_wait_s * 1000]
    return _stream_reassembled(
        stream, "absence_time", args, watermark, symbols, idle_timeout_seconds
    )
