"""Column names spliced into SQL expression strings.

Operators that build one ``F.expr`` string (instead of many py4j
column calls) must reference the caller's column exactly as
``F.col(name)`` would: ``s.v`` is field ``v`` of struct ``s``, a
backtick-quoted part may hold dots, and a doubled backtick inside one
is a literal backtick.  Wrapping the raw name in one pair of
backticks gets both wrong (``s.v`` becomes a top-level name, and any
backtick breaks the parse).
"""

from __future__ import annotations


def sql_column(name: str) -> str:
    """``name`` as a SQL column reference that resolves the same column
    as ``F.col(name)``: split into parts the way Spark's attribute-name
    parser does, then each part backtick-quoted with inner backticks
    doubled.  A name ``F.col`` rejects raises ``ValueError``."""
    bad = ValueError(f"malformed column name: {name!r}")
    parts: list[str] = []
    part = ""
    quoted = False
    i = 0
    while i < len(name):
        c = name[i]
        if quoted:
            if c != "`":
                part += c
            elif name[i + 1 : i + 2] == "`":
                part += "`"
                i += 1
            elif name[i + 1 : i + 2] in ("", "."):
                quoted = False
            else:
                raise bad
        elif c == "`":
            if part:
                raise bad
            quoted = True
        elif c == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise bad
            parts.append(part)
            part = ""
        else:
            part += c
        i += 1
    if quoted:
        raise bad
    parts.append(part)
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)
