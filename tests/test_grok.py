"""Grok compilation + the SQL-text parse (U1; docs/index.asciidoc:50-52,165)."""

import re

import pytest

from logstash_filter_aggregate_spark.functions.grok import apply_grok_jvm, compile_grok
from logstash_filter_aggregate_spark.plans.pipeline import DEFAULT_GROKS, compile_groks
from tests.conftest import make_transcript

TASK_PATTERN = r"%{LOGLEVEL:loglevel} - %{NOTSPACE:taskid} - %{NOTSPACE:logger} - %{WORD:label}( - %{INT:duration:int})?"


def test_compile_typed_and_optional_captures():
    g = compile_grok("task", TASK_PATTERN)
    assert g.captures == ("loglevel", "taskid", "logger", "label", "duration")
    assert g.types["duration"].simpleString() == "bigint"
    # optional literal group shifts indices: duration is group 6 not 5
    assert g.group_index["duration"] == 6


def test_unknown_base_pattern():
    with pytest.raises(KeyError):
        compile_grok("bad", "%{NOPE:x}")


def test_duplicate_capture():
    with pytest.raises(ValueError, match="duplicate"):
        compile_grok("dup", "%{WORD:a} %{WORD:a}")


ROWS = [
    (0, "INFO - 12345 - TASK_START - start", 0),
    (1, "INFO - 12345 - SQL - sqlQuery1 - 12", 1),
    (2, "INFO - 12345 - Clicked One", 2),
    (3, "ERROR - 12345 - TOOL - http - E503", 3),
    (4, "freeform chatter", 4),
]


# one-value parametrization kept only so the test id stays test_parse_captures[jvm]
@pytest.mark.parametrize("backend", ["jvm"])
def test_parse_captures(spark, backend):
    df = make_transcript(spark, ROWS)
    out = {r.turn_idx: r for r in apply_grok_jvm(df, "text", compile_groks()).collect()}
    assert out[0].logger == "TASK_START" and out[0].duration is None
    assert out[1].duration == 12 and out[1].grok_pattern == "task"
    assert out[2].click_target == "One" and out[2].grok_pattern == "click"
    assert out[3].err_code == 503 and out[3].err_tool == "http"
    assert out[4].grok_pattern is None and out[4].parse_tags == ["_grokparsefailure"]


def test_default_dictionary_order_specific_first():
    names = [n for n, _ in DEFAULT_GROKS]
    assert names.index("click") < names.index("task")
    assert names.index("error") < names.index("task")


def test_custom_pattern_dictionary(spark):
    # logstash patterns_dir analog: custom entries may reference others
    g = compile_grok(
        "sess", "%{SESSIONID:sid} %{WORD:verb}",
        extra_patterns={"SESSIONID": r"S-%{INT}-%{WORD}"},
    )
    df = make_transcript(spark, [(0, "S-42-abc GET", 0)])
    r = apply_grok_jvm(df, "text", [g]).first()
    assert r.sid == "S-42-abc" and r.verb == "GET"


def test_custom_pattern_cycle_raises():
    with pytest.raises(ValueError, match="cycle: A -> B -> A"):
        compile_grok("c", "%{A:x}", extra_patterns={"A": "%{B}", "B": "%{A}"})


def test_custom_pattern_deep_chain_resolves():
    # P0 -> P1 -> ... -> P40 -> INT, declared in chain order
    extra = {f"P{i}": f"%{{P{i + 1}}}" for i in range(40)}
    extra["P40"] = "%{INT}"
    g = compile_grok("deep", "%{P0:v:int}", extra_patterns=extra)
    assert "%{" not in g.regex
    assert re.fullmatch(g.regex.replace("(?<", "(?P<"), "42")


SAMPLE_LINES = {
    "HOSTNAME": ("%{HOSTNAME:h}", "api-01.prod.example.com", "h", "api-01.prod.example.com"),
    "IPORHOST_ip": ("%{IPORHOST:h}", "10.0.42.1", "h", "10.0.42.1"),
    "IPV6": ("%{IPV6:h}", "2001:db8:0:1:1:1:1:1", "h", "2001:db8:0:1:1:1:1:1"),
    "HTTPDATE": (r"\[%{HTTPDATE:t}\]", "[10/Oct/2000:13:55:36 -0700]", "t", "10/Oct/2000:13:55:36 -0700"),
    "SYSLOGTIMESTAMP": ("%{SYSLOGTIMESTAMP:t} x", "Oct  1 13:55:36 x", "t", "Oct  1 13:55:36"),
    "QS": ("%{QS:q}", '"hello \\"quoted\\" world"', "q", '"hello \\"quoted\\" world"'),
    "UNIXPATH": ("%{PATH:p} end", "/var/log/app-1.2/x.log end", "p", "/var/log/app-1.2/x.log"),
    "URIPATH": ("%{URIPATH:p}", "/a/b_c/d-1", "p", "/a/b_c/d-1"),
    "EMAILADDRESS": ("%{EMAILADDRESS:e}", "dev.ops+x@mail.example.org", "e", "dev.ops+x@mail.example.org"),
    "SYSLOGPROG": ("%{SYSLOGPROG:p}: y", "sshd[4123]: y", "p", "sshd[4123]"),
    "TIMESTAMP_ISO8601": ("%{TIMESTAMP_ISO8601:t} x", "2024-03-07T09:15:02.250+01:00 x", "t", "2024-03-07T09:15:02.250+01:00"),
    "DATESTAMP": ("%{DATESTAMP:t}", "03/07/2024 09:15:02", "t", "03/07/2024 09:15:02"),
    "DATE_EU": ("%{DATE_EU:d}", "7.3.2024", "d", "7.3.2024"),
    "DATESTAMP_RFC2822": ("%{DATESTAMP_RFC2822:t}", "Thu, 07 Mar 2024 09:15:02 +0000", "t", "Thu, 07 Mar 2024 09:15:02 +0000"),
    "DATESTAMP_EVENTLOG": ("%{DATESTAMP_EVENTLOG:t}", "20240307091502", "t", "20240307091502"),
    "MAC_common": ("%{MAC:m}", "aa:bb:cc:00:11:22", "m", "aa:bb:cc:00:11:22"),
    "MAC_cisco": ("%{MAC:m}", "aabb.cc00.1122", "m", "aabb.cc00.1122"),
    "URI": ("%{URI:u}", "https://user@api.example.com:8443/v1/items?id=3&x=y", "u", "https://user@api.example.com:8443/v1/items?id=3&x=y"),
    "BASE16NUM": ("addr=%{BASE16NUM:a}", "addr=0xDEADbeef", "a", "0xDEADbeef"),
    "SYSLOGFACILITY": ("%{SYSLOGFACILITY:f}x", "<13.2>x", "f", "<13.2>"),
    "JAVACLASS": ("at %{JAVACLASS:c}\\.%{JAVAMETHOD:m}\\(%{JAVAFILE:f}:%{INT:l:int}\\)", "at org.example.Foo$Bar.run(Foo.java:42)", "c", "org.example.Foo$Bar"),
}


@pytest.mark.parametrize("case", sorted(SAMPLE_LINES))
def test_core_pattern_breadth(spark, case):
    pattern, line, cap, expect = SAMPLE_LINES[case]
    g = compile_grok(case, pattern)
    df = make_transcript(spark, [(0, line, 0)])
    r = apply_grok_jvm(df, "text", [g]).first()
    assert r.parse_tags == []
    assert getattr(r, cap) == expect


def test_group_index_counting_matches_python_re():
    # the JVM path addresses groups by NUMBER ($N back-references and the
    # extract fallback), so compile_grok's group-index counter must agree
    # with the regex engine exactly — including escaped \( literals, (
    # inside character classes, plain user groups, and lookarounds
    g = compile_grok(
        "tricky",
        r"\(%{WORD:a}\) [()x]+ (?=u)(u(?:v)?)%{INT:b:int}(?<!y) %{WORD:c}",
        anchored=False,
    )
    compiled = re.compile(g.regex.replace("(?<", "(?P<").replace("(?P<=", "(?<=").replace("(?P<!", "(?<!"))
    # python's numbering of the named groups must equal ours
    py_index = {g.alias[name]: idx for name, idx in compiled.groupindex.items()}
    assert py_index == g.group_index
    m = compiled.search("(hello) ()x uv42 world")
    assert m and m.group(g.group_index["a"]) == "hello"
    assert m.group(g.group_index["b"]) == "42"
    assert m.group(g.group_index["c"]) == "world"


QUOTED = r"\Q(\Ev=%{INT:v:int}"


def test_group_count_matches_java(spark):
    # the total must be java.util.regex's own groupCount(): a \Q...\E
    # quote hides its "(", and a "[" inside a class opens a nested class
    from logstash_filter_aggregate_spark.functions.grok import _combined_alternation, _group_indices

    groks = compile_groks()
    regexes = [g.regex for g in groks] + [_combined_alternation(groks)[0]] + [
        compile_grok("q", QUOTED).regex,
        r"^[[a]()](?<x>b)$",
        r"[a\Q]\E(](b)",
        r"[](b)](c)",
        r"[^[a]](b)",
        r"[a&&[(]](b)",
    ]
    pattern = spark._jvm.java.util.regex.Pattern
    for r in regexes:
        assert _group_indices(r)[0] == pattern.compile(r).matcher("").groupCount(), r


def test_quoted_paren_parses_end_to_end(spark):
    g = compile_grok("q", QUOTED)
    assert g.group_index == {"v": 1}
    df = make_transcript(spark, [(0, "(v=5", 0), (1, "v=5", 1)])
    rows = {r.turn_idx: r for r in apply_grok_jvm(df, "text", [g]).collect()}
    assert rows[0].parse_tags == [] and rows[0].v == 5
    assert rows[1].parse_tags == ["_grokparsefailure"] and rows[1].v is None


def test_unanchored_grok_mid_string_match_extracts_correctly(spark):
    # an UNANCHORED grok matching mid-string must not take the single-pass
    # replace+split path: a single mid-string replace would glue the
    # unmatched prefix/suffix onto the first/last groups without changing
    # the split count (undetectable by the size check)
    g = compile_grok("kv", r"%{WORD:k}=%{INT:v:int}", anchored=False)
    df = make_transcript(spark, [(0, "x k=5 y", 0)])
    r = apply_grok_jvm(df, "text", [g]).first()
    assert r.parse_tags == []
    assert r.k == "k" and r.v == 5


def test_delimiter_byte_in_captured_value_falls_back(spark):
    # the single-pass replace+split extraction joins groups on \x01; a
    # matched line CONTAINING \x01 inside a capture must still extract
    # correctly via the per-capture regexp_extract fallback
    g = compile_grok("kv", r"%{WORD:k}=%{GREEDYDATA:v}")
    df = make_transcript(spark, [(0, "key=a\x01b\x01c", 0), (1, "key2=plain", 0)])
    rows = {r.k: r.v for r in apply_grok_jvm(df, "text", [g]).collect()}
    assert rows == {"key": "a\x01b\x01c", "key2": "plain"}


def test_every_base_pattern_compiles_both_dialects():
    # every dictionary entry must be valid in BOTH regex dialects: Java
    # runs the parse, Python re runs the empty-match screen and the
    # reference extractor below — Java approximated by rejecting
    # Python-only constructs ((?P<, (?#, \A..)
    from logstash_filter_aggregate_spark.functions.grok import BASE_PATTERNS

    for name, rx in BASE_PATTERNS.items():
        re.compile(rx)  # python dialect
        assert "(?P<" not in rx and "(?#" not in rx, name


def test_syslogbase_composite(spark):
    from logstash_filter_aggregate_spark.functions.grok import SYSLOGBASE_GROK

    g = compile_grok("syslog", SYSLOGBASE_GROK + " %{GREEDYDATA:msg}")
    df = make_transcript(
        spark, [(0, "Oct  1 13:55:36 web-01.example.com sshd[4123]: accepted", 0)]
    )
    r = apply_grok_jvm(df, "text", [g]).first()
    assert r.parse_tags == []
    assert r.timestamp == "Oct  1 13:55:36"
    assert r.logsource == "web-01.example.com"
    assert r.program == "sshd[4123]"
    assert r.msg == "accepted"


def test_common_apache_log_composite(spark):
    from logstash_filter_aggregate_spark.functions.grok import COMBINEDAPACHELOG_GROK

    line = (
        '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
        '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"'
    )
    g = compile_grok("combined", COMBINEDAPACHELOG_GROK)
    df = make_transcript(spark, [(0, line, 0)])
    r = apply_grok_jvm(df, "text", [g]).first()
    assert r.clientip == "127.0.0.1" and r.auth == "frank"
    assert r.verb == "GET" and r.request == "/apache_pb.gif"
    assert r.response == 200 and r.bytes == 2326
    assert r.referrer == '"http://www.example.com/start.html"'


def _reference_parse(rows, groks):
    """Grok break_on_match with Python ``re``, one row at a time: the
    independent reference for the SQL projection. Same output contract:
    '' captures read as NULL, typed captures cast, unmatched rows tagged."""
    casts = {"bigint": int, "double": float, "string": str}
    out = {}
    for turn_idx, text, _ in rows:
        got = {"grok_pattern": None, "parse_tags": ["_grokparsefailure"]}
        for g in groks:
            for c in g.captures:
                got.setdefault(c, None)
        for g in groks:
            m = None if text is None else re.search(re.sub(r"\(\?<([A-Za-z])", r"(?P<\1", g.regex), text)
            if m is None:
                continue
            for c in g.captures:
                v = m.group(g.group_index[c])
                got[c] = casts[g.types[c].simpleString()](v) if v else None
            got["grok_pattern"], got["parse_tags"] = g.name, []
            break
        out[turn_idx] = got
    return out


EQUIVALENCE_ROWS = [
    (0, "INFO - t1 - TASK_START - begin", 0),
    (1, "INFO - t1 - SQL - query - 42", 0),
    (2, "WARN - t2 - TOOL - bash - E17", 0),
    (3, "INFO - u9 - Clicked checkout", 0),
    (4, "garbage line", 0),
    (5, "", 0),
    (6, None, 0),
    (7, "INFO - t\x013 - SQL - q - 1", 0),   # delimiter inside taskid
    (8, "INFO - t1 - SQL - query", 0),        # optional capture absent
    (9, "\x01\x01" * 20, 0),                  # many delimiters, no match
]

_CLICK = dict(DEFAULT_GROKS)["click"]
GROK_LISTS = {
    "default": lambda: compile_groks(),
    "single_anchored": lambda: [compile_grok("task", TASK_PATTERN)],
    # one group in all: the combined replace cannot tell a match from none
    "single_no_capture": lambda: [compile_grok("lvl", r"%{LOGLEVEL} - .+")],
    "unanchored_mix": lambda: [
        compile_grok("tool", r"TOOL - %{WORD:err_tool}", anchored=False),
        compile_grok("task", TASK_PATTERN),
    ],
    "empty_matchable_mix": lambda: [
        compile_grok("click", _CLICK),
        compile_grok("any", r"%{DATA:rest}"),
    ],
    "backreference_mix": lambda: [
        compile_grok("click", _CLICK),
        compile_grok("rep", r"(\S)\1*%{GREEDYDATA:tail}"),
    ],
}


@pytest.mark.parametrize("shape", sorted(GROK_LISTS))
def test_parse_matches_python_reference(spark, shape):
    """The SQL projection equals a per-row Python ``re`` extractor on every
    list shape: eligible ones run the combined replace+split, ineligible
    ones the rlike/regexp_extract fallback alone. The rows cover the
    fallback cases (delimiter byte in a capture, empty text, NULL text,
    no-match with many delimiter bytes)."""
    from logstash_filter_aggregate_spark.functions import grok as G

    groks = GROK_LISTS[shape]()
    eligible = shape in ("default", "single_anchored")
    assert (G._combined_alternation(groks) is not None) == eligible
    df = make_transcript(spark, EQUIVALENCE_ROWS)
    got = {
        r.turn_idx: {k: r[k] for k in r.asDict() if k not in df.columns}
        for r in apply_grok_jvm(df, "text", groks).collect()
    }
    assert got == _reference_parse(EQUIVALENCE_ROWS, groks)


def test_combined_alternation_equivalence(spark, monkeypatch):
    """The combined replace+split path matches the rlike/regexp_extract
    fallback that an ineligible list runs, row for row."""
    from logstash_filter_aggregate_spark.functions import grok as G

    groks = compile_groks()
    assert G._combined_alternation(groks) is not None
    df = make_transcript(spark, EQUIVALENCE_ROWS)
    combined = apply_grok_jvm(df, "text", groks).toPandas().sort_values("turn_idx")
    monkeypatch.setattr(G, "_combined_alternation", lambda g: None)
    fallback = apply_grok_jvm(df, "text", groks).toPandas().sort_values("turn_idx")

    def canon(d):
        d = d[sorted(d.columns)]
        return [tuple(str(v) for v in r) for r in d.itertuples(index=False)]

    assert canon(combined) == canon(fallback)


def test_combined_alternation_ineligible_lists():
    """Unanchored patterns, empty-matchable patterns and backreferences
    decline the combined path (every row takes the fallback); a single
    anchored pattern with a capture takes it; one without (a single group
    in all) does not."""
    from logstash_filter_aggregate_spark.functions import grok as G

    anchored = compile_grok("a", r"%{INT:x}")
    unanchored = compile_grok("u", r"%{INT:y}", anchored=False)
    empty_ok = compile_grok("e", r"%{DATA:z}")  # matches ""
    backref = compile_grok("r", r"(\w)\1%{INT:v}")
    assert G._combined_alternation([anchored]) is not None       # single pattern
    assert G._combined_alternation([compile_grok("n", r"%{INT}")]) is None
    assert G._combined_alternation([anchored, unanchored]) is None
    assert G._combined_alternation([anchored, empty_ok]) is None
    assert G._combined_alternation([anchored, backref]) is None
    assert G._combined_alternation([]) is None
    assert G._combined_alternation([anchored, compile_grok("b", r"%{WORD:w}")]) is not None
