"""Parsers: raw log line -> structured map, first-match-wins chain.

Reference semantics:
- json parser (``internal/parser/json/json.go:44-56``): ``json.Unmarshal``
  into ``map[string]any``; returns false (no-op) on anything that is not a
  JSON object; optional timestamp extraction from a parsed key.
- regex parser (``internal/parser/regex/regex.go:58-86``): unanchored
  leftmost search (``FindStringSubmatch``); named capture groups become the
  parsed map; ``AllowEmpty=false`` drops empty-string groups
  (``regex.go:69-76``); no-match -> false.
- time extraction (``internal/parser/parser.go:14-22``): parse
  ``parsed[time_key]`` with a Go reference-time layout; on success overwrite
  the event timestamp, on failure silently keep the old one.
- chain (``internal/engine/engine.go:93-97``): parsers run in config order,
  the FIRST match wins; if none matches the raw row continues down the
  pipeline with NULL parsed data.

Spark realization: every parser exposes the same two steps,
``kernel(raw) -> k`` (the per-row work) and
``derive(k) -> (parsed, canonical, matched)`` (pure Catalyst over the
kernel's output). The chain owns time extraction and materializes each
kernel output as its own column, so the kernel runs once per row however
many derived columns and downstream filters read it. The json kernel is
the identity and its derive is ``from_json`` plus a variant round-trip for
the canonical. The regex kernel is ONE nondeterministic Arrow UDF
(``pa.Array -> pa.StructArray``, no pandas) that hands the whole batch to
RE2 ``extract_regex`` (Go's regexp syntax, so patterns mean what they mean
in the reference) and returns the named groups plus the canonical text —
the only Python in the hot path. Each chain output is a ``coalesce``
over one field of the per-parser candidate structs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .filters import canonical_json_from_raw

# Explicit Go-layout -> Spark-pattern overrides. These take precedence over
# the token compiler below (they pin behavior the round-1 suite verified);
# everything else goes through :func:`go_layout_to_spark`'s token-by-token
# translation of the Go reference time (parser.go:14-22 accepts ANY layout).
GO_TO_SPARK_TIME_LAYOUTS: dict[str, str] = {
    "2006-01-02T15:04:05Z07:00": "yyyy-MM-dd'T'HH:mm:ssXXX",  # RFC3339 (default)
    "2006-01-02T15:04:05.999999999Z07:00": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSSXXX",
    "2006-01-02 15:04:05": "yyyy-MM-dd HH:mm:ss",
    "2006-01-02": "yyyy-MM-dd",
    "02/Jan/2006:15:04:05 -0700": "dd/MMM/yyyy:HH:mm:ss Z",  # apache CLF
    "Jan  2 15:04:05": "MMM d HH:mm:ss",  # syslog (no year)
    "15:04:05": "HH:mm:ss",
}

GO_RFC3339 = "2006-01-02T15:04:05Z07:00"

PARSED_TYPE = T.MapType(T.StringType(), T.StringType())

# Go reference-time tokens -> java.time pattern letters, longest-first.
# None = recognized Go token with no faithful java.time equivalent ->
# ValueError (loud-on-unknown, SURVEY §7.3 item 5: silently mis-parsing
# timestamps is worse than rejecting a config).
_GO_TIME_TOKENS: list[tuple[str, str | None]] = sorted(
    [
        ("2006", "yyyy"),
        ("06", "yy"),
        ("January", "MMMM"),
        ("Jan", "MMM"),
        ("01", "MM"),
        ("1", "M"),
        ("Monday", "EEEE"),
        ("Mon", "EEE"),
        ("02", "dd"),
        ("_2", "d"),  # space-padded day: java.time has no pad modifier here
        ("2", "d"),
        ("002", "DDD"),
        ("__2", "D"),
        ("15", "HH"),
        ("03", "hh"),
        ("3", "h"),
        ("04", "mm"),
        ("4", "m"),
        ("05", "ss"),
        ("5", "s"),
        ("PM", "a"),
        # java.time 'a' only parses upper-case AM/PM; go_time_parse
        # upper-cases the meridiem in the VALUE when the layout used 'pm'
        ("pm", "a"),
        ("MST", "zzz"),
        # second-precision zones (round 4): java.time XXXX/xxxx parse
        # ±HHmmss (XXXX also 'Z'), XXXXX/xxxxx the colon forms — slightly
        # LENIENT vs Go: the seconds are optional on the java side where
        # Go's 6/8-char tokens require them
        ("Z07:00:00", "XXXXX"),
        ("Z070000", "XXXX"),
        ("Z07:00", "XXX"),
        ("Z0700", "XX"),
        ("Z07", "X"),
        ("-07:00:00", "xxxxx"),
        ("-070000", "xxxx"),
        ("-07:00", "xxx"),
        ("-0700", "xx"),
        ("-07", "x"),
    ],
    key=lambda kv: -len(kv[0]),
)

_JAVA_QUOTE_NEEDED = re.compile(r"[a-zA-Z'\[\]#{}]")


def _quote_literal(run: str) -> str:
    """Quote a literal run for java.time patterns (letters and the reserved
    punctuation must be quoted; ' escapes as '')."""
    if any(c.isdigit() for c in run):
        # a bare digit in a Go layout is (mis)read by Go itself as part of a
        # reference-time number — refuse rather than silently mis-parse
        raise ValueError(f"literal digits in Go time layout run {run!r}")
    if _JAVA_QUOTE_NEEDED.search(run):
        return "'" + run.replace("'", "''") + "'"
    return run


def go_layout_to_spark(layout: str) -> str:
    """Translate a Go reference-time layout to a Spark datetime pattern.

    Token-by-token compilation of the Go reference time
    ``Mon Jan 2 15:04:05 MST 2006``: longest-match tokens map to java.time
    letters, literal runs are quoted, and fractional seconds translate as
    ``.000...`` -> ``.SSS...`` (exact digits) / ``.999...`` -> ``[.SSS...]``
    (optional — Go drops the fraction entirely when zero; note java.time
    still requires the full digit count WHEN present, a documented
    divergence for Go's trailing-zero trimming). Second-precision zone
    offsets map since round 4 (``Z070000`` -> ``XXXX``, ``-07:00:00`` ->
    ``xxxxx`` etc. — java accepts the secondless forms too, a documented
    leniency); any token still without a java.time equivalent raises
    ``ValueError`` — the reference silently keeps the old timestamp on
    parse failure (parser.go:17-19), but a config-time unknown layout is a
    build error here.

    Documented divergences: two-digit years 69-99 pivot to 19xx in Go but
    20xx in java.time; ``.999`` fractions must carry the full digit count
    when present (Go trims trailing zeros). Go's ``_2`` space-padding and
    lower-case ``pm`` are handled by :func:`go_time_parse` (value-side pad
    collapse / meridiem upper-casing — the latter is slightly LENIENT:
    Go's ``pm`` rejects an upper-case "PM" value, this parser accepts it) —
    the bare pattern from this function alone expects an unpadded day and
    an upper-case meridiem.
    """
    if layout in GO_TO_SPARK_TIME_LAYOUTS:
        return GO_TO_SPARK_TIME_LAYOUTS[layout]
    out: list[str] = []
    lit: list[str] = []
    n_tokens = 0
    i = 0
    while i < len(layout):
        # fractional seconds: .0000 (fixed) / .9999 (optional)
        m = re.match(r"[.,](0+|9+)", layout[i:])
        if m:
            if lit:
                out.append(_quote_literal("".join(lit)))
                lit = []
            digits = m.group(1)
            sep = layout[i]
            frac = "'" + sep + "'" if sep == "," else sep
            if digits[0] == "0":
                out.append(frac + "S" * len(digits))
            else:
                out.append("[" + frac + "S" * len(digits) + "]")
            n_tokens += 1
            i += 1 + len(digits)
            continue
        for tok, pat in _GO_TIME_TOKENS:
            if layout.startswith(tok, i):
                if pat is None:
                    raise ValueError(
                        f"Go time token {tok!r} in layout {layout!r} has no "
                        "faithful Spark/java.time equivalent"
                    )
                if lit:
                    out.append(_quote_literal("".join(lit)))
                    lit = []
                out.append(pat)
                n_tokens += 1
                i += len(tok)
                break
        else:
            lit.append(layout[i])
            i += 1
    if lit:
        out.append(_quote_literal("".join(lit)))
    if n_tokens == 0:
        # all-literal "layouts" are almost certainly a config mistake —
        # loud beats a parser that only ever matches one fixed string
        raise ValueError(f"Go time layout {layout!r} contains no time tokens")
    return "".join(out)


_DAY_NAME_RE = (
    "(Monday|Tuesday|Wednesday|Thursday|Friday|Saturday|Sunday"
    "|Mon|Tue|Wed|Thu|Fri|Sat|Sun)"
)


def go_time_parse(raw: Column, go_layout: str) -> Column:
    """Parse a string Column with a Go layout; NULL on value-level failure.

    Spark bans week-based fields ('E') in PARSING patterns, and Go's Parse
    never cross-checks the day name against the date anyway — so for
    layouts containing Mon/Monday the day name is stripped from the value
    and the EEE token dropped from the pattern (information-preserving)."""
    fmt = go_layout_to_spark(go_layout)
    if "EEE" in fmt:
        fmt = fmt.replace("EEEE", "").replace("EEE", "")
        raw = F.regexp_replace(raw, _DAY_NAME_RE, "")
    if "_2" in go_layout:
        # Go renders the _2 / __2 tokens space-PADDED (" 5"); java.time 'd'
        # has no pad modifier, so collapse the pad spaces in the value
        raw = F.regexp_replace(raw, " {2,}(\\d)", " $1")
    if "pm" in go_layout:
        # Go's lower-case 'pm' token parses a lower-case meridiem, which
        # java.time 'a' rejects — upper-case it in the VALUE. Any am/pm text
        # in a layout-valid value IS the meridiem (a literal 'pm' in a Go
        # layout cannot be expressed: it would BE the token), so a blanket
        # replace is safe; invalid values return NULL either way.
        raw = F.regexp_replace(F.regexp_replace(raw, "pm", "PM"), "am", "AM")
    return F.try_to_timestamp(raw, F.lit(fmt))


def extract_time_col(parsed: Column, time_key: str, go_layout: str) -> Column:
    """``ExtractTime`` (parser.go:14-22) as a Column: parsed[time_key]
    parsed with the layout; NULL (caller coalesces with ingest time) on
    failure — mirroring 'keep old timestamp on parse error'."""
    return go_time_parse(parsed.getItem(time_key), go_layout)


@dataclass(frozen=True)
class JsonParser:
    """json parser (json.go:23-56). Produces map<string,string> parity view:
    scalar JSON values are rendered the way Go re-serializes them (numbers
    via float64 -> shortest form, bools as true/false)."""

    name: str = "json"
    time_key: str = ""
    time_format: str = GO_RFC3339

    def kernel(self, raw: Column) -> Column:
        """The identity: the json parse is pure Catalyst, all in derive."""
        return raw

    def derive(self, raw: Column) -> tuple[Column, Column, Column]:
        """``(parsed, canonical, matched)`` for the raw line."""
        # from_json returns NULL for malformed input and for non-object JSON
        # when the target type is a map — matching json.Unmarshal into
        # map[string]any failing on arrays/scalars.
        parsed = F.from_json(raw, PARSED_TYPE)
        # Go json.Marshal(json.Unmarshal(raw)): variant round-trip gives
        # sorted keys + preserved types (see functions/filters.py docstring).
        canonical = canonical_json_from_raw(raw)
        # Go json.Unmarshal("null", &map) SUCCEEDS with a nil map
        # (json.go:44-49), so a bare 'null' line (mod JSON whitespace:
        # space/\t/\n/\r) is a json MATCH with NULL parsed data — it must
        # not fall through to later parsers in a chain.
        matched = parsed.isNotNull() | raw.rlike("^[ \\t\\r\\n]*null[ \\t\\r\\n]*$")
        return parsed, canonical, matched


def _uncapture_unnamed(pattern: str) -> str:
    """Rewrite each unnamed capturing ``(`` of an RE2 pattern to ``(?:``.

    Go's regex parser ignores unnamed groups (only named ones reach the
    map, regex.go:64-79) and Arrow's ``extract_regex`` rejects them, so
    they become non-capturing. The scan follows RE2 syntax: ``\\x``
    escapes and ``\\Q...\\E`` literals are copied as-is, and so are
    character classes (a ``]`` first in the class is literal, ``[:alpha:]``
    does not end it)."""
    out, i, n = [], 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            if pattern.startswith("\\Q", i):
                e = pattern.find("\\E", i + 2)
                j = n if e < 0 else e + 2
            else:
                j = i + 2
        elif c == "[":
            j = i + 1 + pattern.startswith("^", i + 1)
            j += pattern.startswith("]", j)
            while j < n and pattern[j] != "]":
                e = pattern.find(":]", j + 2) if pattern.startswith("[:", j) else -1
                j = e + 2 if e >= 0 else j + 1 + (pattern[j] == "\\")
            j += 1
        elif c == "(" and not pattern.startswith("?", i + 1):
            out.append("(?:")
            i += 1
            continue
        else:
            j = i + 1
        out.append(pattern[i:j])
        i = j
    return "".join(out)


def _re2_compile(pattern: str) -> tuple[str, list[str]]:
    """``(RE2 pattern, named groups in group order)``, compiled by the same
    engine the kernel runs (Arrow's RE2, Go's regexp syntax). Raises
    ``ValueError`` for syntax RE2 rejects — lookaround, backrefs — as
    ``regexp.Compile`` fails Init (regex.go:32-35)."""
    re2 = _uncapture_unnamed(pattern)
    try:
        res = pc.extract_regex(pa.array([], type=pa.string()), pattern=re2)
    except pa.ArrowInvalid as e:
        raise ValueError(f"invalid regex {pattern!r}: {e}") from e
    return re2, [f.name for f in res.type]


def _compile_regex_struct_udf(pattern: str, group_names: list[str], allow_empty: bool):
    """The regex kernel: an Arrow UDF (``pa.Array -> pa.StructArray``, no
    pandas round trip) that runs the whole batch through Arrow's C++ RE2
    ``extract_regex`` — ZERO per-row Python. Returns
    struct<name:string,..., __canon:string>. ``__canon`` is NULL exactly
    when the row did not match (the extract struct's validity); on a match
    every group is a string (RE2 non-participating groups yield "", never
    NULL — Go regex.go:66-77 parity by construction).

    ``__canon`` is the Go ``json.Marshal(map[string]string)`` text of the
    parsed map, built INSIDE the kernel with vectorized replace/join: a
    post-UDF projection is not whole-stage-codegen'd, so its 5-regexp
    escape chain per key and value would run interpreted per row. Key
    order is the static sort of the group names (ASCII, same order
    Catalyst's array_sort(map_entries) yields); escapes and quoting match
    filters._escape_json_string exactly; ``allow_empty=False`` leaves out
    the entries whose value is "" (regex.go:73-76).

    The UDF is nondeterministic on purpose: the optimizer then neither
    inlines it into each expression that reads it nor pushes a filter or
    a union below it, so once its output is a column of its own it runs
    once per row (see :meth:`ParserChain.apply`)."""
    struct_type = T.StructType(
        [T.StructField(n, T.StringType()) for n in [*group_names, "__canon"]]
    )

    def esc(c):
        for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\t", "\\t"), ("\r", "\\r")):
            c = pc.replace_substring(c, pattern=a, replacement=b)
        return c

    def parse(raw: pa.Array) -> pa.Array:
        res = pc.extract_regex(raw, pattern=pattern)
        # flatten() ANDs child validity with the struct's: no-match rows
        # come out as NULL in every field
        groups = res.flatten()
        by_name = dict(zip(group_names, groups))
        # one ',"k":"v"' part per entry ("" for a dropped empty value);
        # joined, the leading comma dropped and wrapped in {}
        parts = []
        for n in sorted(group_names):
            part = pc.binary_join_element_wise(',"' + n + '":"', esc(by_name[n]), '"', "")
            if not allow_empty:
                part = pc.if_else(pc.equal(by_name[n], ""), "", part)
            parts.append(part)
        body = pc.binary_join_element_wise(*parts, "") if parts else pa.scalar("")
        canon = pc.binary_join_element_wise("{", pc.utf8_slice_codeunits(body, 1), "}", "")
        canon = pc.if_else(res.is_valid(), canon, pa.scalar(None, pa.string()))
        return pa.StructArray.from_arrays([*groups, canon], names=[*group_names, "__canon"])

    return F.arrow_udf(parse, struct_type).asNondeterministic()


@dataclass(frozen=True)
class RegexParser:
    """regex parser (regex.go:25-86): named-group extraction into a map.

    One engine end to end: the pattern is validated, its group names read
    and every row matched by Arrow's RE2 ``extract_regex`` — RE2 is Go's
    regexp syntax, so ``\\d``/``\\w``/``\\s``/``\\b`` are ASCII-only,
    ``\\p{L}`` works and ``$`` does not match before a trailing newline,
    exactly as in Go (ADVICE r3)."""

    pattern: str
    name: str = "regex"
    allow_empty: bool = True
    time_key: str = ""
    time_format: str = GO_RFC3339

    def __post_init__(self) -> None:
        _re2_compile(self.pattern)  # Init-time validation (regex.go:32-35)

    def kernel(self, raw: Column) -> Column:
        """The RE2 kernel's struct for the raw line (one Arrow UDF call)."""
        pattern, group_names = _re2_compile(self.pattern)
        return _compile_regex_struct_udf(pattern, group_names, self.allow_empty)(raw)

    def derive(self, k: Column) -> tuple[Column, Column, Column]:
        """``(parsed, canonical, matched)`` from the kernel's struct: the
        named groups become the map (a pure-Catalyst struct->map
        conversion), ``__canon`` is the canonical and its NULL-ness the
        match flag."""
        _, group_names = _re2_compile(self.pattern)
        canonical = k.getField("__canon")
        matched = canonical.isNotNull()
        entries = F.map_from_arrays(
            F.array(*[F.lit(n) for n in group_names]),
            F.array(*[k.getField(n) for n in group_names]),
        ).cast(PARSED_TYPE)  # with no named groups the arrays are array<void>
        if not self.allow_empty:
            entries = F.map_filter(entries, lambda _k, v: v != "")
        return F.when(matched, entries), canonical, matched


@dataclass
class ParserChain:
    """First-match-wins parser chain (engine.go:93-97).

    Every parser exposes ``kernel(raw)`` and
    ``derive(k) -> (parsed, canonical, matched)`` plus ``name``,
    ``time_key`` and ``time_format``.
    ``apply(df, raw_col, ingest_time_col)`` adds:
    - ``parsed`` map<string,string> (NULL when no parser matched — the row
      is KEPT, matching the reference),
    - ``parser`` string (name of the matching parser, NULL if none),
    - ``canonical`` string — Go-parity ``json.Marshal(ParsedData)`` text
      (the grep filter's match target, grep.go:79; ``null`` when unparsed),
    - ``event_time`` timestamp (extracted if the matching parser has a
      time_key and it parses; else the ingest time — parser.go:17-19).
    """

    parsers: list = field(default_factory=list)

    def apply(self, df, raw_col: str = "raw", ingest_time_col: str = "ingest_time"):
        # Each parser's kernel output (``_k{i}``) and candidate struct
        # (``_cand{i}``) are materialized as their OWN columns. The kernel
        # column is what makes a Python kernel run once per row: the
        # nondeterministic UDF is never inlined into its readers (derive
        # reads it once per group plus the canonical), and no filter or
        # union is pushed below it, so a grep filter over ``canonical``
        # stays above the single ArrowEvalPython node. The candidate is
        # referenced at least twice downstream (the next parser's input
        # mask + the final coalesce), and CollapseProject keeps a
        # multi-referenced non-cheap alias materialized instead of
        # inlining it — so an earlier parser's from_json/variant work is
        # computed ONCE in the codegen stage below the Python node and
        # flows through it as a plain attribute (inline composition
        # re-evaluated the json parse 3x per row around the UDF boundary).
        if not self.parsers:
            return (
                df.withColumn("parsed", F.lit(None).cast(PARSED_TYPE))
                .withColumn("parser", F.lit(None).cast("string"))
                .withColumn("canonical", F.lit("null"))
                .withColumn("event_time", F.col(ingest_time_col))
            )
        out = df
        cand_names: list[str] = []
        kernel_names: list[str] = []
        for i, p in enumerate(self.parsers):
            # first-match-wins short circuit that survives UDF extraction:
            # an Arrow UDF is computed in its own ArrowEvalPython node for
            # EVERY row regardless of the later coalesce, so mask the input
            # to NULL for rows an earlier parser already matched — RE2
            # passes NULL through without matching.
            if cand_names:
                prev = (
                    F.coalesce(*[F.col(c) for c in cand_names])
                    if len(cand_names) > 1
                    else F.col(cand_names[0])
                )
                raw = F.when(prev.isNull(), F.col(raw_col))
            else:
                raw = F.col(raw_col)
            kname = f"_k{i}"
            out = out.withColumn(kname, p.kernel(raw))
            kernel_names.append(kname)
            parsed, canonical, matched = p.derive(F.col(kname))
            event_time = F.col(ingest_time_col)
            if p.time_key and p.time_format:
                event_time = F.coalesce(
                    extract_time_col(parsed, p.time_key, p.time_format), event_time
                )
            candidate = F.when(
                matched,
                F.struct(
                    parsed.alias("parsed"),
                    F.lit(p.name).alias("parser"),
                    canonical.alias("canonical"),
                    event_time.alias("event_time"),
                ),
            )
            name = f"_cand{i}"
            out = out.withColumn(name, candidate)
            cand_names.append(name)
        # the masked inputs leave at most one candidate non-NULL per row, so
        # the first non-NULL field is the matching parser's: each output is
        # a coalesce of plain fields, which a filter on ``canonical`` reads
        # without rebuilding the candidate structs
        def first(f, *default):
            return F.coalesce(*[F.col(c).getField(f) for c in cand_names], *default)

        return (
            out.withColumn("parsed", first("parsed"))
            .withColumn("parser", first("parser"))
            .withColumn("canonical", first("canonical", F.lit("null")))
            .withColumn("event_time", first("event_time", F.col(ingest_time_col)))
            .drop(*kernel_names, *cand_names)
        )
