"""Parser parity tests — golden cases ported from the reference's own
tables (internal/parser/regex/regex_test.go, internal/parser/json/json_test.go)
plus the FIXTURES.md F3 table, run against the Spark kernels and
cross-checked against the pure-Python oracle."""

import datetime

import pytest
from pyspark.sql import functions as F

from go_log_forwarder_spark import oracle
from go_log_forwarder_spark.functions.parsers import (
    JsonParser,
    ParserChain,
    RegexParser,
    go_layout_to_spark,
)

INGEST = datetime.datetime(2020, 1, 1, 0, 0, 0)


def _run_chain(spark, raws, parsers):
    df = spark.createDataFrame(
        [(r, INGEST) for r in raws], "raw string, ingest_time timestamp"
    )
    out = ParserChain(parsers).apply(df)
    rows = out.orderBy("raw").collect()
    return {r["raw"]: r for r in rows}


# --- regex parser (regex_test.go:87-167) ---------------------------------


def test_regex_named_groups(spark):
    p = RegexParser(pattern=r"(?P<level>\w+)\s+(?P<message>.+)")
    rows = _run_chain(spark, ["INFO this is a test message"], [p])
    r = rows["INFO this is a test message"]
    assert r["parsed"] == {"level": "INFO", "message": "this is a test message"}
    assert r["parser"] == "regex"
    assert r["event_time"] == INGEST  # no TimeKey -> ingest time kept


def test_regex_timestamp_extraction(spark):
    p = RegexParser(
        pattern=r"(?P<timestamp>\S+)\s+(?P<level>\w+)\s+(?P<message>.+)",
        time_key="timestamp",
    )
    rows = _run_chain(spark, ["2024-02-20T15:04:05Z INFO test message"], [p])
    r = rows["2024-02-20T15:04:05Z INFO test message"]
    assert r["parsed"]["level"] == "INFO"
    assert r["event_time"] == datetime.datetime(2024, 2, 20, 15, 4, 5)


@pytest.mark.parametrize(
    "allow_empty,expected",
    [
        (False, {"message": "test"}),
        (True, {"level": "", "message": "test"}),
    ],
)
def test_regex_allow_empty(spark, allow_empty, expected):
    # regex_test.go:128-155 — AllowEmpty both ways on ' test'
    p = RegexParser(pattern=r"(?P<level>\w*)\s+(?P<message>.*)", allow_empty=allow_empty)
    rows = _run_chain(spark, [" test"], [p])
    assert rows[" test"]["parsed"] == expected


def test_regex_no_match_row_kept(spark):
    # regex_test.go:156-166 + engine.go:93-97: no match -> parsed NULL, row kept
    p = RegexParser(pattern=r"(?P<level>ERROR)\s+(?P<message>.+)")
    rows = _run_chain(spark, ["INFO test message"], [p])
    r = rows["INFO test message"]
    assert r["parsed"] is None
    assert r["parser"] is None
    assert r["event_time"] == INGEST


def test_regex_init_validation():
    # regex_test.go:50-56: invalid pattern fails Init
    with pytest.raises(Exception):
        RegexParser(pattern="[invalid")
    # Python-only syntax (lookaround, backrefs) fails Init too: RE2/Go
    # reject it
    for pattern in (r"(?P<a>x)(?=y)", r"(?P<a>x)(?!y)", r"(?P<a>x)\1"):
        with pytest.raises(ValueError):
            RegexParser(pattern=pattern)
    with pytest.raises(ValueError):
        go_layout_to_spark("invalid")


# --- json parser (json_test.go:11-66) ------------------------------------


def test_json_valid_and_time(spark):
    raw = '{"timestamp":"2024-02-20T15:04:05Z","message":"test log"}'
    p = JsonParser(time_key="timestamp")
    rows = _run_chain(spark, [raw], [p])
    r = rows[raw]
    assert r["parsed"] == {"timestamp": "2024-02-20T15:04:05Z", "message": "test log"}
    assert r["event_time"] == datetime.datetime(2024, 2, 20, 15, 4, 5)
    assert r["parser"] == "json"


@pytest.mark.parametrize("raw", ['{"invalid json', "", "[1,2]", "42"])
def test_json_invalid_kept_unparsed(spark, raw):
    rows = _run_chain(spark, [raw or " "], [JsonParser()])
    r = rows[raw or " "]
    assert r["parsed"] is None
    assert r["parser"] is None


def test_json_empty_object_matches(spark):
    rows = _run_chain(spark, ["{}"], [JsonParser()])
    assert rows["{}"]["parsed"] == {}
    assert rows["{}"]["parser"] == "json"


def test_json_nested_preserved(spark):
    # json_test.go:53-65: nested map preserved (as its JSON text in the
    # map<string,string> parity view)
    raw = '{"data":{"nested":"value"},"message":"test"}'
    rows = _run_chain(spark, [raw], [JsonParser()])
    assert rows[raw]["parsed"] == {"data": '{"nested":"value"}', "message": "test"}


def test_json_time_parse_failure_keeps_ingest(spark):
    # parser.go:17-19: time parse failure silently keeps old timestamp
    raw = '{"timestamp":"not-a-time","m":"x"}'
    rows = _run_chain(spark, [raw], [JsonParser(time_key="timestamp")])
    assert rows[raw]["event_time"] == INGEST
    assert rows[raw]["parser"] == "json"


# --- chain: first match wins (engine.go:93-97) ----------------------------


def test_chain_first_match_wins(spark):
    raws = [
        '{"k":"v"}',  # json wins (tried first)
        "INFO hello world",  # regex wins
        "{invalid and no regex match~~",  # neither -> kept raw
    ]
    chain = [
        JsonParser(),
        RegexParser(pattern=r"^(?P<level>[A-Z]+)\s+(?P<message>.+)$"),
    ]
    rows = _run_chain(spark, raws, chain)
    assert rows['{"k":"v"}']["parser"] == "json"
    assert rows["INFO hello world"]["parser"] == "regex"
    assert rows["INFO hello world"]["parsed"] == {"level": "INFO", "message": "hello world"}
    assert rows["{invalid and no regex match~~"]["parser"] is None
    assert rows["{invalid and no regex match~~"]["parsed"] is None


def test_chain_vs_oracle(spark):
    """Property-ish: chain result equals the pure-Python oracle on a mixed
    corpus (values rendered to the map<string,string> parity view)."""
    raws = [
        '{"a":"1","b":"two"}',
        '{"n": 7}',
        "ERROR boom",
        "plain text line",
        '{"nested":{"x":"y"}}',
        "WARN   spaced",
        "{bad json",
    ]
    chain = [
        JsonParser(),
        RegexParser(pattern=r"^(?P<level>[A-Z]+)\s+(?P<message>.+)$"),
    ]
    got = _run_chain(spark, raws, chain)
    for raw in raws:
        ev = oracle.Event(raw=raw)
        name = oracle.parser_chain(
            ev,
            [
                ("json", lambda e: oracle.json_parse(e)),
                (
                    "regex",
                    lambda e: oracle.regex_parse(e, r"^(?P<level>[A-Z]+)\s+(?P<message>.+)$"),
                ),
            ],
        )
        assert got[raw]["parser"] == name, raw
        if ev.parsed is None:
            assert got[raw]["parsed"] is None
        else:
            # oracle holds typed values; spark view holds their JSON text
            want = {
                k: (
                    v
                    if isinstance(v, str)
                    else oracle.go_json_marshal(v)
                )
                for k, v in ev.parsed.items()
            }
            assert got[raw]["parsed"] == want, raw


def test_json_null_line_is_a_match(spark):
    # json.go:44-49: json.Unmarshal("null", &map) SUCCEEDS with a nil map,
    # so a bare 'null' line is a json MATCH (NULL parsed data, canonical
    # 'null') and must NOT fall through to later parsers in a chain.
    chain = [JsonParser(), RegexParser(pattern=r"^(?P<word>[a-z]+)$")]
    rows = _run_chain(spark, ["null", " null ", "nullish"], chain)
    for raw in ("null", " null "):
        assert rows[raw]["parser"] == "json", raw
        assert rows[raw]["parsed"] is None, raw
        assert rows[raw]["canonical"] == "null", raw
    # 'nullish' is NOT valid JSON -> falls through to the regex parser
    assert rows["nullish"]["parser"] == "regex"
    assert rows["nullish"]["parsed"] == {"word": "nullish"}


# --- Go time-layout compiler (parser.go:14-22 accepts ANY layout) ----------

from go_log_forwarder_spark.functions.parsers import go_layout_to_spark


@pytest.mark.parametrize(
    "layout,expected",
    [
        # Go stdlib layout constants (time/format.go)
        ("Mon Jan _2 15:04:05 2006", "EEE MMM d HH:mm:ss yyyy"),  # ANSIC
        ("Mon Jan 02 15:04:05 -0700 2006", "EEE MMM dd HH:mm:ss xx yyyy"),  # RubyDate
        ("02 Jan 06 15:04 -0700", "dd MMM yy HH:mm xx"),  # RFC822Z
        ("Monday, 02-Jan-06 15:04:05 MST", "EEEE, dd-MMM-yy HH:mm:ss zzz"),  # RFC850
        ("Mon, 02 Jan 2006 15:04:05 -0700", "EEE, dd MMM yyyy HH:mm:ss xx"),  # RFC1123Z
        ("3:04PM", "h:mma"),  # Kitchen
        ("Jan _2 15:04:05.000", "MMM d HH:mm:ss.SSS"),  # StampMilli
        ("2006-01-02T15:04:05.999999Z07:00", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX"),
        ("20060102150405", "yyyyMMddHHmmss"),
        ("2006/01/02 03:04:05 PM Z0700", "yyyy/MM/dd hh:mm:ss a XX"),
        ("15:04:05,000", "HH:mm:ss','SSS"),
    ],
)
def test_go_layout_compiler_golden(layout, expected):
    assert go_layout_to_spark(layout) == expected


@pytest.mark.parametrize("layout", ["2006-01-02 7", "hello world"])
def test_go_layout_compiler_loud_on_unknown(layout):
    # literal digits (Go itself would misread them as reference-time
    # numbers) and token-free layouts are build errors
    with pytest.raises(ValueError):
        go_layout_to_spark(layout)


def test_go_layout_second_precision_zones(spark):
    # round 4: Z070000/-070000 (+ colon forms) map to java XXXX/xxxx —
    # seconds-bearing offsets parse exactly; zero offset accepts 'Z' only
    # for the Z-forms. Documented leniency: java also accepts the
    # secondless form where Go's token demands six digits.
    from go_log_forwarder_spark.functions.parsers import go_time_parse

    assert go_layout_to_spark("2006-01-02 15:04:05Z070000") == "yyyy-MM-dd HH:mm:ssXXXX"
    assert go_layout_to_spark("2006-01-02 15:04:05-07:00:00") == "yyyy-MM-dd HH:mm:ssxxxxx"
    df = spark.createDataFrame(
        [("2024-01-02 03:04:05+053000",), ("2024-01-02 03:04:05Z",), ("nope",)],
        "s string",
    )
    got = [
        r["t"]
        for r in df.select(
            go_time_parse(F.col("s"), "2006-01-02 15:04:05Z070000").alias("t")
        ).collect()
    ]
    # +05:30:00 offset: 03:04:05 local == 21:34:05 UTC previous day
    assert (got[0].day, got[0].hour, got[0].minute) == (1, 21, 34)
    assert (got[1].day, got[1].hour) == (2, 3)  # Z accepted
    assert got[2] is None


def test_go_layout_lowercase_pm(spark):
    # Go's 'pm' token renders/parses a lower-case meridiem; java.time 'a'
    # only accepts upper-case — go_time_parse upper-cases the value
    from go_log_forwarder_spark.functions.parsers import go_time_parse

    assert go_layout_to_spark("3:04pm") == "h:mma"
    df = spark.createDataFrame([("3:04pm",), ("11:59am",), ("nope",)], "s string")
    got = [
        r["t"] for r in df.select(go_time_parse(F.col("s"), "3:04pm").alias("t")).collect()
    ]
    assert got[0].hour == 15 and got[0].minute == 4
    assert got[1].hour == 11 and got[1].minute == 59
    assert got[2] is None


def test_go_layout_two_digit_year_pivot_divergence(spark):
    # DOCUMENTED divergence (parsers.py docstring): Go pivots yy 69-99 to
    # 19xx, java.time to 20xx. Pin OUR behavior so a silent change trips.
    from go_log_forwarder_spark.functions.parsers import go_time_parse

    df = spark.createDataFrame([("31 Dec 69",), ("01 Jan 24",)], "s string")
    got = [
        r["t"] for r in df.select(go_time_parse(F.col("s"), "02 Jan 06").alias("t")).collect()
    ]
    assert got[0].year == 2069  # Go: 1969 — accepted, documented divergence
    assert got[1].year == 2024  # 00-68: both engines say 20xx


def _render_go(layout: str, dt, offset: str = "+0000") -> str:
    """Minimal Go time.Format renderer for the tokens the compiler maps
    (property-test twin; day/hour values chosen 2-digit in the tests so the
    _2 space-padding divergence never triggers)."""
    months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
              "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    days = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
    h12 = dt.hour % 12 or 12
    subs = [
        ("2006", f"{dt.year:04d}"), ("January", dt.strftime("%B")),
        ("Monday", dt.strftime("%A")), ("Jan", months[dt.month - 1]),
        ("Mon", days[dt.weekday()]), ("01", f"{dt.month:02d}"),
        ("02", f"{dt.day:02d}"), ("_2", f"{dt.day:2d}"),
        ("15", f"{dt.hour:02d}"), ("03", f"{h12:02d}"),
        ("04", f"{dt.minute:02d}"), ("05", f"{dt.second:02d}"),
        ("06", f"{dt.year % 100:02d}"),
        ("PM", "PM" if dt.hour >= 12 else "AM"),
        ("pm", "pm" if dt.hour >= 12 else "am"),
        ("-07:00", offset[:3] + ":" + offset[3:]),
        ("-0700", offset),
        ("Z07:00", "Z" if offset == "+0000" else offset[:3] + ":" + offset[3:]),
        ("Z0700", "Z" if offset == "+0000" else offset),
        (".000", f".{dt.microsecond // 1000:03d}"),
        ("3", str(h12)), ("2", str(dt.day)), ("1", str(dt.month)),
        ("4", str(dt.minute)), ("5", str(dt.second)),
    ]
    out, i = [], 0
    while i < len(layout):
        for tok, val in subs:
            if layout.startswith(tok, i):
                out.append(val)
                i += len(tok)
                break
        else:
            out.append(layout[i])
            i += 1
    return "".join(out)


def test_go_layout_compiler_roundtrip(spark):
    # render with Go semantics -> parse with the compiled Spark pattern ->
    # exact instant back (UTC session; offsets exercise x/X forms)
    import itertools

    layouts = [
        "Mon Jan _2 15:04:05 2006",  # ANSIC (space-padded day handled in go_time_parse)
        "Mon Jan 02 15:04:05 -0700 2006",
        "Mon, 02 Jan 2006 15:04:05 -0700",
        "02 Jan 06 15:04:05 -07:00",
        "2006-01-02T15:04:05.000Z07:00",
        "20060102150405",
        "2006/01/02 03:04:05 PM",
        "2006/01/02 03:04:05 pm",
    ]
    dts = [
        datetime.datetime(2024, 2, 5, 15, 4, 5, 123000),  # day 5: exercises _2 padding
        datetime.datetime(2031, 12, 31, 0, 30, 59, 0),  # yy in 00-68: Go and java.time agree on the 20xx pivot
    ]
    offsets = ["+0000", "-0730", "+0545"]
    rows, expected = [], []
    for li, (layout, dt, off) in enumerate(itertools.product(layouts, dts, offsets)):
        rendered = _render_go(layout, dt, off)
        rows.append((li, rendered))
        sign = 1 if off[0] == "+" else -1
        delta = datetime.timedelta(hours=int(off[1:3]), minutes=int(off[3:5]))
        has_zone = "-0700" in layout or "Z07" in layout or "-07:00" in layout
        has_frac = ".000" in layout
        base = dt if has_frac else dt.replace(microsecond=0)
        expected.append(base - sign * delta if has_zone else base)
    from go_log_forwarder_spark.functions.parsers import go_time_parse

    got = {}
    by_layout = {}
    for li, (layout, dt, off) in enumerate(itertools.product(layouts, dts, offsets)):
        by_layout.setdefault(layout, []).append((li, rows[li][1]))
    for layout, items in by_layout.items():
        df = spark.createDataFrame(items, "i long, rendered string")
        for r in df.select("i", go_time_parse(F.col("rendered"), layout).alias("ts")).collect():
            got[r["i"]] = r["ts"]
    for i, exp in enumerate(expected):
        assert got[i] == exp, (i, rows[i], got[i], exp)


def test_regex_ascii_classes_kernel_independent(spark):
    # ADVICE r3: \d must be ASCII-only (RE2/Go semantics). One RE2 kernel
    # runs every pattern, so Arabic-Indic digits never match.
    pat = r"n=(?P<n>\d+)"
    rows = _run_chain(spark, ["n=42", "n=١٢٣"], [RegexParser(pattern=pat)])
    got = {raw: r["parsed"] for raw, r in rows.items()}
    assert got == {"n=42": {"n": "42"}, "n=١٢٣": None}


def test_regex_unicode_property_class(spark):
    # Go's regexp (and RE2) accept \p{L}; Python's re does not
    p = RegexParser(pattern=r"(?P<w>\p{L}+)")
    rows = _run_chain(spark, ["αβγ x"], [p])
    assert rows["αβγ x"]["parsed"] == {"w": "αβγ"}


def test_regex_dollar_does_not_match_before_trailing_newline(spark):
    # RE2/Go: $ (no multi-line flag) matches only at the very end; Python's
    # re also matches before a final "\n". tcp chunks keep their newlines.
    p = RegexParser(pattern=r"^(?P<a>x)(y)?$")
    rows = _run_chain(spark, ["xy\n", "xy"], [p])
    assert rows["xy\n"]["parsed"] is None
    assert rows["xy\n"]["parser"] is None
    assert rows["xy"]["parsed"] == {"a": "x"}  # the unnamed group is not a key


@pytest.mark.parametrize(
    "raw,pattern",
    [("n=" + "\u0661\u0661", r"n=(?P<n>\d+)"), ("xy\n", r"^(?P<a>x)(y)?$")],
)
def test_oracle_regex_matches_re2(spark, raw, pattern):
    # the pure-Python oracle follows Go/RE2, not Python's re: ASCII-only
    # \d, and $ only at the end of the text — no match for either input,
    # in the oracle and in the chain
    ev = oracle.Event(raw=raw)
    assert oracle.regex_parse(ev, pattern) is False and ev.parsed is None
    row = _run_chain(spark, [raw], [RegexParser(pattern=pattern)])[raw]
    assert row["parser"] is None and row["parsed"] is None


@pytest.mark.parametrize(
    "pattern,rewritten",
    [
        (r"(x)(?P<a>y)", r"(?:x)(?P<a>y)"),
        (r"(?P<a>(b))", r"(?P<a>(?:b))"),
        (r"(?i)(a)", r"(?i)(?:a)"),
        (r"\(x\)", r"\(x\)"),
        (r"[(]x[)]", r"[(]x[)]"),
        (r"[]()](y)", r"[]()](?:y)"),
        (r"[^]()](y)", r"[^]()](?:y)"),
        (r"[[:alpha:](](z)", r"[[:alpha:](](?:z)"),
        (r"[\]((](q)", r"[\]((](?:q)"),
        (r"\Q(\E(?P<a>x)", r"\Q(\E(?P<a>x)"),
        (r"\Q((", r"\Q(("),
    ],
)
def test_regex_unnamed_group_rewrite(pattern, rewritten):
    from go_log_forwarder_spark.functions.parsers import _uncapture_unnamed

    assert _uncapture_unnamed(pattern) == rewritten


def test_regex_unnamed_groups_dropped(spark):
    # Go's map holds named groups only; escaped parens, parens in a class
    # and \Q(\E are literals, not groups
    p = RegexParser(pattern=r"^(\w+) \((?P<a>[(]\d+[)])\) \Q(\E(?P<b>[]()]+)$")
    rows = _run_chain(spark, ["lvl ((42)) ()]("], [p])
    assert rows["lvl ((42)) ()]("]["parsed"] == {"a": "(42)", "b": ")]("}


def test_regex_no_named_groups(spark):
    # a match with no named groups is an empty map, marshalled as {}
    rows = _run_chain(spark, ["ERROR x", "INFO y"], [RegexParser(pattern=r"^ERROR")])
    assert rows["ERROR x"]["parsed"] == {}
    assert rows["ERROR x"]["canonical"] == "{}"
    assert rows["ERROR x"]["parser"] == "regex"
    assert rows["INFO y"]["parsed"] is None
    assert rows["INFO y"]["canonical"] == "null"


def test_regex_kernel_all_null_batch(spark):
    # every line is JSON, so the chain masks the regex kernel's whole
    # input to NULL: the Arrow kernel gets an all-NULL array and must
    # return an all-NULL canonical of the same length
    raws = ['{"a":"1"}', '{"b":2}', "null"]
    rows = _run_chain(spark, raws, [JsonParser(), RegexParser(pattern=r"(?P<w>\w+)")])
    assert {raw: r["parser"] for raw, r in rows.items()} == dict.fromkeys(raws, "json")
    assert rows['{"b":2}']["canonical"] == '{"b":2}'

    p = RegexParser(pattern=r"(?P<w>\w+)")
    df = spark.range(3).select(p.kernel(F.lit(None).cast("string")).alias("k"))
    assert [r["k"].asDict() for r in df.collect()] == [{"w": None, "__canon": None}] * 3


@pytest.mark.parametrize("allow_empty", [True, False])
def test_regex_kernel_zero_named_groups(spark, allow_empty):
    # with no named groups the kernel's struct holds only __canon: "{}"
    # on a match, NULL otherwise (NULL input included)
    p = RegexParser(pattern=r"^ERR(OR)?", allow_empty=allow_empty)
    df = spark.createDataFrame([("ERROR x",), ("INFO y",), (None,)], "raw string")
    out = df.select("raw", p.kernel(F.col("raw")).alias("k"))
    assert out.schema["k"].dataType.fieldNames() == ["__canon"]
    got = {r["raw"]: r["k"]["__canon"] for r in out.collect()}
    assert got == {"ERROR x": "{}", "INFO y": None, None: None}
