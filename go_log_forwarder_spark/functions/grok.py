"""Grok pattern support: %{PATTERN:field} -> named-group regex -> the
vectorized RegexParser (P1).

The reference has only raw regex parsing (internal/parser/regex/regex.go);
grok is the north star's named extension ("vectorized grok/regex parsing").
A grok expression compiles to a single RE2 (Go regexp syntax) regex with
named capture groups, then rides the existing Arrow-batched parse kernel —
no new execution machinery.

Pattern library: the standard core subset (logstash-patterns-core, public
grok conventions). Nested pattern references are expanded recursively at
compile time.
"""

from __future__ import annotations

import re

from .parsers import RegexParser

GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?(?:[0-9]+)",
    "NUMBER": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?)",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "IPV4": r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}",
    "HOSTNAME": r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "TIMESTAMP_ISO8601": (
        r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}(?::\d{2}(?:\.\d+)?)?(?:Z|[+-]\d{2}:?\d{2})?"
    ),
    "LOGLEVEL": (
        r"[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo?(?:rmation)?|"
        r"INFO?(?:RMATION)?|[Ww]arn?(?:ing)?|WARN?(?:ING)?|[Ee]rr?(?:or)?|ERR?(?:OR)?|"
        r"[Cc]rit?(?:ical)?|CRIT?(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|"
        r"[Ee]merg(?:ency)?"
    ),
    "HTTPMETHOD": r"GET|POST|PUT|DELETE|HEAD|OPTIONS|PATCH|TRACE|CONNECT",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def grok_to_regex(expression: str, extra_patterns: dict[str, str] | None = None) -> str:
    """Expand %{NAME} / %{NAME:field} references into one anchalone regex.

    %{NAME:field} becomes a named capture group ``(?P<field>...)``;
    %{NAME} expands inline without capturing. Unknown names raise."""
    patterns = {**GROK_PATTERNS, **(extra_patterns or {})}

    def expand(expr: str, depth: int = 0) -> str:
        if depth > 10:
            raise ValueError("grok pattern nesting too deep")

        def sub(m: re.Match) -> str:
            name, field = m.group(1), m.group(2)
            if name not in patterns:
                raise ValueError(f"unknown grok pattern %{{{name}}}")
            body = expand(patterns[name], depth + 1)
            if field:
                return f"(?P<{field}>{body})"
            return f"(?:{body})"

        return _GROK_REF.sub(sub, expr)

    return expand(expression)


def grok_parser(
    expression: str,
    name: str = "grok",
    allow_empty: bool = True,
    time_key: str = "",
    time_format: str = "2006-01-02T15:04:05Z07:00",
    extra_patterns: dict[str, str] | None = None,
) -> RegexParser:
    """A RegexParser whose pattern is compiled from a grok expression —
    same first-match-wins chain, same Arrow-vectorized kernel."""
    return RegexParser(
        pattern=grok_to_regex(expression, extra_patterns),
        name=name,
        allow_empty=allow_empty,
        time_key=time_key,
        time_format=time_format,
    )
