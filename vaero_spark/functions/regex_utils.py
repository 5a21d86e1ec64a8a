"""Regex dialect helpers.

The reference uses Go RE2 (``regexp.MatchString`` etc.); Spark uses Java
``java.util.regex``; the test oracle (``vaero_spark/testing/oracle.py``)
uses Python ``re``. We confine the
supported surface to the common subset (literals, classes, quantifiers,
alternation, anchors, capture groups) and normalize named-group syntax:
Python ``(?P<name>...)`` ⇔ Java/RE2 ``(?<name>...)``.
"""

from __future__ import annotations

import re

_NAMED_PY = re.compile(r"\(\?P<([A-Za-z][A-Za-z0-9_]*)>")
_NAMED_ANY = re.compile(r"\(\?P?<([A-Za-z][A-Za-z0-9_]*)>")


def to_java_regex(pattern: str) -> str:
    """Normalize to Java syntax (named groups ``(?<name>...)``)."""
    return _NAMED_PY.sub(r"(?<\1>", pattern)


def named_groups(pattern: str) -> list[tuple[str, int]]:
    """(name, group_index) for each named capture group, in order.

    Group indices count *all* capturing groups (named and unnamed),
    matching Go ``re.SubexpNames()`` and Java group numbering
    (``/root/reference/transform/parse_regexp.go:28-36``).
    """
    # Tokenize: walk the pattern, count '(' that start capture groups.
    out: list[tuple[str, int]] = []
    idx = 0
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if c == "[":  # char class: skip to unescaped ]
            i += 1
            if i < n and pattern[i] == "^":
                i += 1
            if i < n and pattern[i] == "]":
                i += 1
            while i < n and pattern[i] != "]":
                if pattern[i] == "\\":
                    i += 1
                i += 1
            i += 1
            continue
        if c == "(":
            m = _NAMED_ANY.match(pattern, i)
            if m:
                idx += 1
                out.append((m.group(1), idx))
                i = m.end()
                continue
            if pattern.startswith("(?", i):
                i += 2  # non-capturing / flags group
                continue
            idx += 1
            i += 1
            continue
        i += 1
    return out
