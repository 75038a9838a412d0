"""Tag wildcard matching — the reference's routing primitive.

Reference semantics (``internal/util/util.go:9-45`` TagMatch): the match
pattern is split on ``*``; the tag must start with the first non-empty part
(if the pattern doesn't open with ``*``), end with the last non-empty part
(if it doesn't close with ``*``), and contain all parts in order. An empty
pattern matches only the empty tag (``util.go:11-13``); ``"*"`` matches
everything. This is exactly glob-``*`` semantics, i.e. the anchored regex
``^escape(p0).*escape(p1)...$``.

The reference evaluates this per event per output (``engine.go:101``,
``stdout.go:90``, ``counter.go:48`` ...). Here each pattern is compiled ONCE
into a Catalyst Column predicate — exact equality / startswith / endswith
where possible (cheap codegen'd string ops), an anchored ``rlike`` only for
multi-wildcard infix patterns. A DuckDB-SQL rendering of the *same* predicate
is provided for the oracle harness, derived from the same compiled form so
the two can't drift.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


def tag_match_py(input_tag: str, match: str) -> bool:
    """Pure-Python reference implementation (oracle).

    Mirrors ``internal/util/util.go:9-45`` exactly, including the
    empty-pattern rule.
    """
    if match == "" and input_tag != "":
        return False
    parts = match.split("*")
    pos = 0
    for i, part in enumerate(parts):
        if part == "":
            continue
        if i == 0 and not input_tag.startswith(part):
            return False
        if i == len(parts) - 1 and not input_tag.endswith(part):
            return False
        idx = input_tag[pos:].find(part)
        if idx == -1:
            return False
        pos += idx + len(part)
    return True


@dataclass(frozen=True)
class CompiledTagPattern:
    """One tag pattern compiled to its cheapest predicate form.

    ⚠ A wildcard-free pattern is NOT exact equality in the reference: the
    algorithm only checks HasPrefix AND HasSuffix (util.go:25-33), so
    ``TagMatch("aa", "a")`` is TRUE. Kind 'presuf' mirrors that (found by
    property-testing the compiled form against the Go algorithm)."""

    pattern: str
    kind: str  # 'all' | 'empty' | 'presuf' | 'prefix' | 'suffix' | 'contains' | 'regex'
    arg: str  # literal or regex source

    def column(self, tag: Column) -> Column:
        """Catalyst predicate over the tag column."""
        if self.kind == "all":
            return F.lit(True)
        if self.kind == "empty":
            return tag == F.lit("")
        if self.kind == "presuf":
            return tag.startswith(self.arg) & tag.endswith(self.arg)
        if self.kind == "prefix":
            return tag.startswith(self.arg)
        if self.kind == "suffix":
            return tag.endswith(self.arg)
        if self.kind == "contains":
            return tag.contains(self.arg)
        return tag.rlike(self.arg)

    def duckdb_sql(self, tag_expr: str) -> str:
        """Equivalent DuckDB predicate (for the oracle harness)."""
        if self.kind == "all":
            return "TRUE"
        lit = self.arg.replace("'", "''")
        if self.kind == "empty":
            return f"{tag_expr} = ''"
        if self.kind == "presuf":
            return f"(starts_with({tag_expr}, '{lit}') AND ends_with({tag_expr}, '{lit}'))"
        if self.kind == "prefix":
            return f"starts_with({tag_expr}, '{lit}')"
        if self.kind == "suffix":
            return f"ends_with({tag_expr}, '{lit}')"
        if self.kind == "contains":
            return f"contains({tag_expr}, '{lit}')"
        return f"regexp_matches({tag_expr}, '{lit}')"


def compile_tag_pattern(match: str) -> CompiledTagPattern:
    """Compile a reference tag pattern to :class:`CompiledTagPattern`.

    Equivalence to ``util.go:9-45``: the wildcard-free case is
    prefix-AND-suffix ('presuf', see class docstring); otherwise
    '*'-to-'.*' translation of the whole pattern, anchored, literals
    regex-escaped. Empty pattern -> matches only the empty tag.
    """
    if match == "":
        return CompiledTagPattern(match, "empty", "")
    if set(match) == {"*"}:
        return CompiledTagPattern(match, "all", "")
    if "*" not in match:
        return CompiledTagPattern(match, "presuf", match)
    core = match.strip("*")
    if "*" not in core:
        if match.startswith("*") and match.endswith("*"):
            # '*lit*' → plain containment of a single literal
            return CompiledTagPattern(match, "contains", core)
        if match.endswith("*"):
            return CompiledTagPattern(match, "prefix", core)
        return CompiledTagPattern(match, "suffix", core)
    # multi-wildcard: anchored regex \Aa.*b.*c\z — \A/\z, not ^/$: Java's
    # default $ also matches just before a trailing newline while RE2/Go's
    # (no multiline) does not, so a tag ending in '\n' would route on
    # Spark but not in Go or the DuckDB oracle (self-review round 5);
    # \A/\z are absolute in Java AND RE2, keeping all three engines exact
    regex = "".join(".*" if ch == "*" else re.escape(ch) for ch in match)
    # collapse runs of '.*' produced by '**'
    regex = re.sub(r"(\.\*)+", ".*", regex)
    return CompiledTagPattern(match, "regex", "\\A" + regex + "\\z")

