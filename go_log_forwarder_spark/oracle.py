"""Pure-Python oracle: a direct reimplementation of the reference semantics.

Used by the pytest suite to generate golden expectations which the Spark
pipeline must reproduce row-for-row. Every function cites the reference code
it mirrors (paths into /root/reference).

This module intentionally contains NO Spark: it is the independent 'second
implementation' the parity tests compare against.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

from .functions.tags import tag_match_py

# Go time layouts -> python strptime, for the layouts the tests use.
_GO_TO_STRPTIME = {
    "2006-01-02T15:04:05Z07:00": "%Y-%m-%dT%H:%M:%S%z",  # RFC3339
    "2006-01-02 15:04:05": "%Y-%m-%d %H:%M:%S",
    "2006-01-02": "%Y-%m-%d",
}


@dataclass
class Event:
    """internal.Event (internal/global.go:8-21)."""

    raw: str
    timestamp: datetime | None = None
    parsed: dict[str, Any] | None = None
    source: str = ""
    host: str = ""
    tag: str = ""
    line_num: int = 0
    input_source: str = ""


def extract_time(event: Event, time_key: str, go_layout: str) -> None:
    """parser.ExtractTime (internal/parser/parser.go:14-22): overwrite the
    event timestamp iff parsed[time_key] is a string that parses; silently
    keep the old timestamp otherwise."""
    if event.parsed is None:
        return
    v = event.parsed.get(time_key)
    if not isinstance(v, str):
        return
    fmt = _GO_TO_STRPTIME.get(go_layout)
    if fmt is None:
        return
    try:
        ts = datetime.strptime(v.replace("Z", "+00:00") if "%z" in fmt else v, fmt)
    except ValueError:
        return
    event.timestamp = ts


def json_parse(event: Event, time_key: str = "", go_layout: str = "2006-01-02T15:04:05Z07:00") -> bool:
    """json parser Process (internal/parser/json/json.go:44-56): unmarshal
    into a dict; false on invalid JSON or non-object."""
    try:
        data = json.loads(event.raw)
    except (ValueError, TypeError):
        return False
    if not isinstance(data, dict):
        return False
    event.parsed = data
    if time_key and go_layout:
        extract_time(event, time_key, go_layout)
    return True


def _go_regex(pattern: str) -> re.Pattern:
    """Compile ``pattern`` with Go regexp (RE2) semantics where Python's
    ``re`` differs: \\d \\w \\s \\b are ASCII-only, and ``$`` without the
    multi-line flag matches only at the end of the text (Python's also
    matches before a final "\\n"), so it is rewritten to ``\\Z`` outside
    character classes."""
    if re.compile(pattern).flags & re.MULTILINE:
        return re.compile(pattern, re.ASCII)
    out, i, in_class = [], 0, False
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class:
            in_class = c != "]"
        elif c == "[":
            # a "]" right after "[" or "[^" is a literal member
            j = i + 1 + (pattern[i + 1 : i + 2] == "^")
            if pattern[j : j + 1] == "]":
                c, i = pattern[i : j + 1], j
            in_class = True
        elif c == "$":
            c = r"\Z"
        out.append(c)
        i += 1
    return re.compile("".join(out), re.ASCII)


def regex_parse(
    event: Event,
    pattern: str,
    allow_empty: bool = True,
    time_key: str = "",
    go_layout: str = "2006-01-02T15:04:05Z07:00",
) -> bool:
    """regex parser Process (internal/parser/regex/regex.go:58-86):
    unanchored leftmost search (:func:`_go_regex`); named groups -> map;
    non-participating groups are "" (Go semantics); AllowEmpty=false drops
    empty values."""
    rx = _go_regex(pattern)
    m = rx.search(event.raw)
    if m is None:
        return False
    decoded: dict[str, Any] = {}
    for name in rx.groupindex:
        value = m.group(name)
        value = "" if value is None else value
        if allow_empty or value != "":
            decoded[name] = value
    event.parsed = decoded
    if time_key and go_layout:
        extract_time(event, time_key, go_layout)
    return True


def parser_chain(event: Event, parsers: list) -> str | None:
    """engine.go:93-97: first parser returning true wins; none -> parsed
    stays None, row continues. ``parsers`` = list of (name, fn(Event)->bool).
    Returns the matching parser's name or None."""
    for name, fn in parsers:
        if fn(event):
            return name
    return None


def go_json_marshal(data: Any) -> str:
    """encoding/json.Marshal parity for the value shapes our pipeline
    carries: sorted map keys, compact separators. (HTML escaping of <>& is
    omitted — no test exercises it.)"""
    return json.dumps(data, sort_keys=True, separators=(",", ":"))


@dataclass
class Grep:
    """grep filter (internal/filter/grep/grep.go). process() returns True if
    the event survives — including the exclude quirk (grep.go:89-103):
    exclude patterns behave exactly like include patterns."""

    include: list[str] = field(default_factory=list)
    exclude: list[str] = field(default_factory=list)
    op: str = "and"  # 'and' | 'or' (reference) | 'any' (engine extension)
    match: str = "*"

    def process(self, event: Event) -> bool:
        target = go_json_marshal(event.parsed)
        matches = 0
        for p in [*self.include, *self.exclude]:
            if re.search(p, target):
                matches += 1
                if self.op in ("or", "any"):
                    return True
        if self.op == "and" and matches != len(self.include) + len(self.exclude):
            return False
        # grep.go:105-111 fall-through: under "or" an event with NO matching
        # pattern still survives. 'any' (extension) drops it.
        return self.op != "any"

    def apply(self, event: Event) -> bool:
        """Tag-gated (engine.go:100-103): bypass when the tag doesn't match."""
        if not tag_match_py(event.tag, self.match):
            return True
        return self.process(event)


def route(events: list[Event], sinks: dict[str, str]) -> dict[str, list[Event]]:
    """Fan-out to all sinks with per-sink tag filtering
    (engine.go:137-143 + counter.go:46-50 continue semantics)."""
    out: dict[str, list[Event]] = {name: [] for name in sinks}
    for ev in events:
        for name, pattern in sinks.items():
            if tag_match_py(ev.tag, pattern):
                out[name].append(ev)
    return out


def per_sink_counts(events: list[Event], sinks: dict[str, str]) -> dict[str, int]:
    """counter output (counter.go:46-62)."""
    return {name: len(evs) for name, evs in route(events, sinks).items()}
