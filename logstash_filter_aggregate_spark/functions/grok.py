"""Grok-style pattern dictionary compiled to regexes (SURVEY.md §2.2 U1).

The reference's docs always pair the aggregate filter with a grok parse
(``docs/index.asciidoc:50-52``: ``%{LOGLEVEL:loglevel} - %{NOTSPACE:taskid}
- %{NOTSPACE:logger} - %{WORD:label}( - %{INT:duration:int})?``). Here a
grok expression compiles to a plain regex with named captures and typed
casts, and :func:`apply_grok_jvm` applies a first-match-wins pattern
list as SQL text: one projection that runs in whole-stage codegen, with
no Python on the row path.

Every regex stays in the subset both the Java and the Python dialects
read the same way: the JVM runs the parse, while the empty-match screen
of the combined alternation and the tests' reference extractor use
Python ``re``. Rows matching no pattern get a ``_grokparsefailure`` tag
(logstash grok convention) and NULL captures — they flow through
un-extracted (FIXTURES.md "freeform" kind).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from logstash_filter_aggregate_spark.sqltext import all_of, case, check_literals, ident, quote

# Base pattern dictionary — the public grok core pattern NAMES, each
# re-derived from scratch as a plain regex valid in both the Java and
# Python dialects (no atomic groups, no possessive quantifiers). Composites
# are built by f-string composition below, never by copying a patterns file.
_IPV4 = r"(?:\d{1,3}\.){3}\d{1,3}"
_IPV6 = r"(?:[0-9A-Fa-f]{1,4}:){1,7}(?::|[0-9A-Fa-f]{1,4})(?:%\w+)?|::(?:[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4})*)?"
_HOSTNAME = r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b"
_IPORHOST = rf"(?:{_IPV4}|{_IPV6}|{_HOSTNAME})"
_USERNAME = r"[a-zA-Z0-9._-]+"
_EMAIL = r"[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+(?:\.[a-zA-Z0-9-]+)+"
_MONTH = r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b"
_MONTHDAY = r"(?:0[1-9]|[12]\d|3[01]|[1-9])"
_YEAR = r"\d{2}(?:\d{2})?"
_TIME = r"\d{1,2}:\d{2}(?::\d{2}(?:\.\d+)?)?"
_UNIXPATH = r"(?:/[\w@.,:%+~-]*)+"
_WINPATH = r"(?:[A-Za-z]:|\\)(?:\\[^\\?*\s]*)+"
_PROG = r"[\w._/%-]+"
_DAY = r"\b(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)\b"
_MONTHNUM = r"(?:0?[1-9]|1[0-2])"
_MONTHNUM2 = r"(?:0[1-9]|1[0-2])"
_DATE_US = rf"{_MONTHNUM}[/-](?:0[1-9]|[12]\d|3[01]|[1-9])[/-]{_YEAR}"
_DATE_EU = rf"(?:0[1-9]|[12]\d|3[01]|[1-9])[./-]{_MONTHNUM}[./-]{_YEAR}"
_TZ = r"(?:UTC|GMT|[APMCE][SD]T)"
_ISO8601_TIMEZONE = r"(?:Z|[+-]\d{2}(?::?\d{2})?)"
_TIMESTAMP_ISO8601 = (
    rf"\d{{4}}-{_MONTHNUM2}-(?:0[1-9]|[12]\d|3[01])[T ]"
    rf"(?:2[0123]|[01]\d):(?:[0-5]\d)(?::(?:[0-5]\d|60)(?:\.\d+)?)?{_ISO8601_TIMEZONE}?"
)
_COMMONMAC = r"(?:[0-9A-Fa-f]{2}:){5}[0-9A-Fa-f]{2}"
_WINDOWSMAC = r"(?:[0-9A-Fa-f]{2}-){5}[0-9A-Fa-f]{2}"
_CISCOMAC = r"(?:[0-9A-Fa-f]{4}\.){2}[0-9A-Fa-f]{4}"
_URIPATH = r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_-]*)+"
_URIPARAM = r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\[\]<>-]*"
_URIPATHPARAM = rf"{_URIPATH}(?:{_URIPARAM})?"

BASE_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "POSINT": r"\d+",
    "NONNEGINT": r"\d+",
    "LOGLEVEL": r"(?:ALERT|TRACE|DEBUG|NOTICE|INFO|WARN(?:ING)?|ERR(?:OR)?|CRIT(?:ICAL)?|FATAL|SEVERE|EMERG(?:ENCY)?)",
    "USERNAME": _USERNAME,
    "USER": _USERNAME,
    "EMAILADDRESS": _EMAIL,
    "HTTPDUSER": rf"(?:{_EMAIL}|{_USERNAME})",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IP": _IPV4,
    "IPV4": _IPV4,
    "IPV6": _IPV6,
    "HOSTNAME": _HOSTNAME,
    "IPORHOST": _IPORHOST,
    "HOSTPORT": rf"{_IPORHOST}:\d+",
    "MONTH": _MONTH,
    "MONTHDAY": _MONTHDAY,
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "YEAR": _YEAR,
    "TIME": _TIME,
    "HOUR": r"(?:2[0123]|[01]?\d)",
    "MINUTE": r"(?:[0-5]\d)",
    "SECOND": r"(?:[0-5]\d|60)(?:\.\d+)?",
    # 10/Oct/2000:13:55:36 -0700
    "HTTPDATE": rf"{_MONTHDAY}/{_MONTH}/{_YEAR}:{_TIME} [+-]\d{{4}}",
    # Oct  1 13:55:36
    "SYSLOGTIMESTAMP": rf"{_MONTH} +{_MONTHDAY} {_TIME}",
    "SYSLOGHOST": _IPORHOST,
    "PROG": _PROG,
    "SYSLOGPROG": rf"{_PROG}(?:\[\d+\])?",
    "QUOTEDSTRING": r"(?:\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')",
    "QS": r"(?:\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')",
    "UNIXPATH": _UNIXPATH,
    "WINPATH": _WINPATH,
    "PATH": rf"(?:{_UNIXPATH}|{_WINPATH})",
    "TTY": r"/dev/(?:pts|tty[pq]?)\w*",
    "URIPROTO": r"[A-Za-z](?:[A-Za-z0-9+.-]+)",
    "URIHOST": rf"{_IPORHOST}(?::\d{{1,5}})?",
    "URIPATH": _URIPATH,
    "URIPARAM": _URIPARAM,
    "URIPATHPARAM": _URIPATHPARAM,
    "URI": rf"[A-Za-z][A-Za-z0-9+.-]+://(?:{_USERNAME}(?::[^@]*)?@)?{_IPORHOST}(?::\d{{1,5}})?(?:{_URIPATHPARAM})?",
    # date/time family
    "DAY": _DAY,
    "MONTHNUM2": _MONTHNUM2,
    "DATE_US": _DATE_US,
    "DATE_EU": _DATE_EU,
    "DATE": rf"(?:{_DATE_US}|{_DATE_EU})",
    "DATESTAMP": rf"(?:{_DATE_US}|{_DATE_EU})[- ]{_TIME}",
    "TZ": _TZ,
    "ISO8601_TIMEZONE": _ISO8601_TIMEZONE,
    "ISO8601_SECOND": r"(?:[0-5]\d|60)(?:\.\d+)?",
    "TIMESTAMP_ISO8601": _TIMESTAMP_ISO8601,
    "DATESTAMP_RFC822": rf"{_DAY} {_MONTH} {_MONTHDAY} {_YEAR} {_TIME} {_TZ}",
    "DATESTAMP_RFC2822": rf"{_DAY}, {_MONTHDAY} {_MONTH} {_YEAR} {_TIME} {_ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER": rf"{_DAY} {_MONTH} {_MONTHDAY} {_TIME} {_TZ} {_YEAR}",
    "DATESTAMP_EVENTLOG": rf"\d{{4}}{_MONTHNUM2}(?:0[1-9]|[12]\d|3[01])(?:2[0123]|[01]\d)(?:[0-5]\d)(?:[0-5]\d)",
    "CISCOTIMESTAMP": rf"{_MONTH} +{_MONTHDAY} {_TIME}",
    "HTTPDERROR_DATE": rf"{_DAY} {_MONTH} {_MONTHDAY} {_TIME} {_YEAR}",
    # number / identifier extras
    "BASE16NUM": r"[+-]?(?:0[xX])?[0-9A-Fa-f]+",
    "BASE16FLOAT": r"[+-]?(?:0[xX])?[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?",
    "EMAILLOCALPART": r"[a-zA-Z0-9_.+-]+",
    # MAC addresses
    "COMMONMAC": _COMMONMAC,
    "WINDOWSMAC": _WINDOWSMAC,
    "CISCOMAC": _CISCOMAC,
    "MAC": rf"(?:{_CISCOMAC}|{_WINDOWSMAC}|{_COMMONMAC})",
    # syslog / java extras
    "SYSLOGFACILITY": r"<\d+(?:\.\d+)?>",
    "JAVACLASS": r"(?:[a-zA-Z$_][a-zA-Z$_0-9]*\.)*[a-zA-Z$_][a-zA-Z$_0-9]*",
    "JAVAFILE": r"[A-Za-z0-9_. -]+",
    "JAVAMETHOD": r"(?:<(?:cl)?init>|[a-zA-Z$_][a-zA-Z$_0-9]*)",
    # base-dictionary completion (the remaining public base-file names)
    # upstream grok-patterns BOOLEAN is fully case-insensitive
    # ((?i)true|false); scoped (?i:...) works in both regex dialects
    "BOOLEAN": r"(?i:true|false)",
    "URN": r"urn:[0-9A-Za-z][0-9A-Za-z-]{0,31}:(?:%[0-9A-Fa-f]{2}|[0-9A-Za-z()+,.:=@;$_!*'/?#-])+",
    # java family long tail
    "JAVATHREAD": r"(?:[A-Z]{2}-Processor\d+)",
    "JAVALOGMESSAGE": r".*",
    "JAVASTACKTRACEPART": (
        r"\s+at (?:[a-zA-Z$_][a-zA-Z$_0-9]*\.)*[a-zA-Z$_][a-zA-Z$_0-9]*"
        r"\.(?:<(?:cl)?init>|[a-zA-Z$_][a-zA-Z$_0-9]*)\([A-Za-z0-9_. -]+(?::\d+)?\)"
    ),
    "CATALINA_DATESTAMP": rf"{_MONTH} {_MONTHDAY}, \d{{4}} \d{{1,2}}:[0-5]\d:[0-5]\d (?:AM|PM)",
    "TOMCAT_DATESTAMP": (
        rf"\d{{4}}-{_MONTHNUM2}-(?:0[1-9]|[12]\d|3[01]) "
        rf"(?:2[0123]|[01]\d):[0-5]\d:[0-5]\d(?:[.,]\d+)? {_ISO8601_TIMEZONE}"
    ),
    # syslog RFC5424 pieces + cron / ruby / nagios odds and ends
    "SYSLOG5424PRI": r"<\d{1,5}>",
    "SYSLOG5424SD": r"(?:\[.*?\]+|-)",
    "CRON_ACTION": r"[A-Z ]+",
    "RUBY_LOGLEVEL": r"(?:DEBUG|FATAL|ERROR|WARN|INFO)",
    "NAGIOSTIME": r"\[\d+\]",
}

# Composite grok EXPRESSIONS (with capture semantics) for the classic
# access-log formats — pass to compile_grok as the pattern argument.
COMMONAPACHELOG_GROK = (
    r'%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} '
    r'\[%{HTTPDATE:timestamp}\] "%{WORD:verb} %{NOTSPACE:request}'
    r'(?: HTTP/%{NUMBER:httpversion})?" %{NUMBER:response:int} (?:%{NUMBER:bytes:int}|-)'
)
COMBINEDAPACHELOG_GROK = (
    COMMONAPACHELOG_GROK + r' %{QS:referrer} %{QS:agent}'
)
SYSLOGBASE_GROK = (
    r'%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?'
    r'%{SYSLOGHOST:logsource} %{SYSLOGPROG:program}:'
)

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?(?::(\w+))?\}")

_TYPE_MAP: dict[str, T.DataType] = {
    "int": T.LongType(),
    "long": T.LongType(),
    "float": T.DoubleType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
}


@dataclass(frozen=True)
class CompiledGrok:
    """A grok expression compiled to one regex with ordered named captures.

    Group names inside ``regex`` are sanitized to ``[A-Za-z][A-Za-z0-9]*``
    (Java named-group rules, stricter than Python's); ``alias`` maps the
    sanitized name back to the user's capture name.
    """

    name: str
    regex: str                      # named-group regex (valid for both Java and Python)
    captures: tuple[str, ...]       # capture names in group order
    types: dict[str, T.DataType]    # capture -> Spark type
    group_index: dict[str, int]     # capture -> 1-based regex group index
    alias: dict[str, str]           # sanitized group name -> capture name
    anchored: bool = True           # ^...$ wrapped (single-pass extraction eligible)


def _resolve_refs(dictionary: dict[str, str], names) -> dict[str, str]:
    """The ``names`` entries of ``dictionary`` with every unnamed
    ``%{REF}`` expanded (depth first, each entry once)."""
    done: dict[str, str] = {}

    def expand(name: str, path: tuple[str, ...]) -> str:
        if name in done:
            return done[name]
        if name in path:
            cycle = " -> ".join(path[path.index(name):] + (name,))
            raise ValueError(f"grok pattern reference cycle: {cycle}")
        body = dictionary.get(name)
        if body is None:
            raise KeyError(f"unknown grok base pattern %{{{name}}}")
        done[name] = re.sub(r"%\{(\w+)\}", lambda m: f"(?:{expand(m.group(1), path + (name,))})", body)
        return done[name]

    return {n: expand(n, ()) for n in names}


def compile_grok(
    name: str,
    pattern: str,
    anchored: bool = True,
    extra_patterns: dict[str, str] | None = None,
) -> CompiledGrok:
    """Expand ``%{SYNTAX:semantic:type}`` references into named groups.

    Unnamed references (``%{LOGLEVEL}``) expand to non-capturing groups.
    Literal text between references is regex-escaped only if it is not
    already regex (we treat the pattern text outside ``%{}`` as regex,
    matching grok semantics — e.g. ``( - %{INT:duration:int})?``).
    ``extra_patterns`` adds/overrides base-dictionary entries, like
    logstash's ``patterns_dir`` custom pattern files; entries may
    themselves reference other patterns (unnamed ``%{REF}`` only),
    resolved to any depth. A reference cycle raises ``ValueError``.
    """
    dictionary = BASE_PATTERNS
    if extra_patterns:
        dictionary = dict(BASE_PATTERNS, **extra_patterns)
        dictionary.update(_resolve_refs(dictionary, extra_patterns))
    captures: list[str] = []
    types: dict[str, T.DataType] = {}
    alias: dict[str, str] = {}

    def _sanitize(semantic: str) -> str:
        # Java group names must be [A-Za-z][A-Za-z0-9]* (no underscore).
        s = re.sub(r"[^A-Za-z0-9]", "", semantic) or "g"
        if not s[0].isalpha():
            s = "g" + s
        base_s = s
        i = 0
        while s in alias:
            i += 1
            s = f"{base_s}{i}"
        return s

    def _sub(m: re.Match[str]) -> str:
        syntax, semantic, typ = m.group(1), m.group(2), m.group(3)
        base = dictionary.get(syntax)
        if base is None:
            raise KeyError(f"unknown grok base pattern %{{{syntax}}}")
        if semantic is None:
            return f"(?:{base})"
        if semantic in types:
            raise ValueError(f"duplicate capture name {semantic!r} in grok {name!r}")
        captures.append(semantic)
        types[semantic] = _TYPE_MAP.get(typ or "string", T.StringType())
        g = _sanitize(semantic)
        alias[g] = semantic
        return f"(?<{g}>{base})"

    regex = _GROK_REF.sub(_sub, pattern)
    if anchored:
        regex = f"^{regex}$"
    # group indexes as the Java engine numbers them: the $N
    # back-references and the extract fallback address groups by number
    _, named = _group_indices(regex)
    group_index = {alias[g]: named[g] for g in alias}
    return CompiledGrok(
        name=name, regex=regex, captures=tuple(captures), types=types,
        group_index=group_index, alias=alias, anchored=anchored,
    )


def _cast_sql(expr: str, dtype: T.DataType) -> str:
    return expr if isinstance(dtype, T.StringType) else f"CAST({expr} AS {dtype.simpleString()})"


def _group_indices(regex: str) -> tuple[int, dict[str, int]]:
    """Total capturing-group count and named-group -> 1-based index for a
    regex, counted exactly as the Java engine numbers them: skips escapes,
    ``\\Q…\\E`` quotes, ``(`` inside character classes (which nest: ``[``
    inside a class opens another, and a ``]`` is literal while its class
    is still empty, even after a leading ``^`` or an empty quote), and
    (?: (?= (?! (?<= (?<! non-capturing opens."""
    named: dict[str, int] = {}
    idx = 0
    i, n = 0, len(regex)
    empty: list[bool] = []           # per open class: nothing in it yet
    while i < n:
        c = regex[i]
        if c == "\\":
            if regex.startswith("Q", i + 1):
                end = regex.find("\\E", i + 2)
                if end < 0:
                    end = n
                if empty and end > i + 2:      # a non-empty quote fills the class
                    empty[-1] = False
                i = end + 2
            else:
                i += 2
                if empty:
                    empty[-1] = False
            continue
        i += 1
        if c == "[":
            if empty:
                empty[-1] = False
            empty.append(True)
            if regex.startswith("^", i):
                i += 1
        elif empty:
            if c == "]" and not empty[-1]:
                empty.pop()
            else:
                empty[-1] = False
        elif c == "(":
            m = re.match(r"\?<(\w+)>", regex[i:])
            if m:
                idx += 1
                named[m.group(1)] = idx
            elif not regex[i : i + 1] == "?":
                idx += 1
    return idx, named


def _combined_alternation(groks: list[CompiledGrok]):
    """Compile the whole first-match-wins pattern LIST into ONE anchored
    alternation regex, so matching + extraction for every pattern run in
    a single regex execution per row (the engine stops at the first
    matching branch — grok break_on_match for free). Returns
    ``(combined_regex, total_groups, wrapper_idx[i], cap_idx[(i, cap)])``
    or ``None`` when ineligible:

    - every pattern must be anchored: an unanchored mid-string match
      would glue the unmatched prefix/suffix onto the first/last capture
      without changing the split count, so the fallback check could not
      detect it;
    - no pattern may match the empty string (a matched branch is then
      detected by its wrapper group equalling the full line, which the
      empty match would make ambiguous with "no match");
    - no pattern may use a backreference (wrapping renumbers groups);
    - the list must have at least two groups in all: with one (a single
      pattern without captures) the matched replacement is the whole
      line, the same as the unchanged no-match line.

    Branch wrapper groups are named ``w<i>``; pattern-local named groups
    are uniquified with a ``q<i>`` prefix (Java requires unique names in
    one regex). Alternation order = list order, and Java alternation
    prefers the leftmost matching branch, which is exactly
    break_on_match."""
    if not groks or not all(g.anchored for g in groks):
        return None
    bodies: list[str] = []
    for pi, g in enumerate(groks):
        body = g.regex[1:-1]  # strip the ^...$ wrap
        if re.search(r"\\\d|\\k<", body):
            return None  # backreferences would renumber
        py = re.sub(r"\(\?<([A-Za-z])", r"(?P<\1", body)
        try:
            if re.fullmatch(py, "") is not None:
                return None
        except re.error:
            return None
        bodies.append(re.sub(r"\(\?<([A-Za-z])", rf"(?<q{pi}\1", body))
    combined = "^(?:" + "|".join(f"(?<w{pi}>{b})" for pi, b in enumerate(bodies)) + ")$"
    total, named = _group_indices(combined)
    if total < 2:
        return None
    wrapper_idx: list[int] = []
    cap_idx: dict[tuple[int, str], int] = {}
    for pi, g in enumerate(groks):
        if f"w{pi}" not in named:
            return None  # name mangling failed
        wrapper_idx.append(named[f"w{pi}"])
        for sanitized, cap in g.alias.items():
            key = f"q{pi}{sanitized}"
            if key not in named:
                return None
            cap_idx[(pi, cap)] = named[key]
    return combined, total, wrapper_idx, cap_idx


def _all_caps_typed(groks: list[CompiledGrok]) -> dict[str, T.DataType]:
    all_caps: dict[str, T.DataType] = {}
    for g in groks:
        for c in g.captures:
            prev = all_caps.get(c)
            if prev is not None and prev != g.types[c]:
                raise ValueError(f"capture {c!r} has conflicting types across patterns")
            all_caps.setdefault(c, g.types[c])
    return all_caps


def apply_grok_jvm(df: DataFrame, text_col: str, groks: list[CompiledGrok]) -> DataFrame:
    """First-match-wins over the pattern list (grok break_on_match); all
    captures become columns, ``grok_pattern`` names the winner and
    ``parse_tags`` holds ``_grokparsefailure`` for rows no pattern matches.

    SQL text only, so the parse runs in whole-stage codegen with no
    Python on the row path. For an eligible list (:func:`_combined_alternation`)
    one ``regexp_replace`` over the combined alternation rewrites the row
    into a ``\\x01``-joined list of EVERY pattern's capture groups (the
    engine stops at the first matching branch, so a row costs only the
    failed prefixes plus its winner), and one ``split`` turns it into the
    ``_ca`` array. Then:

    - match detection: the split count equals the combined group count
      (a no-match replace returns the input line unchanged);
    - winner: the branch whose wrapper slot equals the whole line
      (non-winning branch groups substitute ``''``; a pathological
      non-matching line containing exactly the right number of ``\\x01``
      bytes can never have a split PIECE equal to the WHOLE line, so it
      safely reads as no-match);
    - rows whose captured values legitimately contain ``\\x01`` (split
      count disagrees) fall back to ``rlike`` winner flags and
      per-capture ``regexp_extract``, evaluated lazily only on those rows.

    An ineligible list (unanchored, empty-matchable or backreferencing
    patterns) emits no ``_ca``: every row takes the fallback. '' captures
    become true NULLs (``nullif``), covering both empty optional groups
    and unmatched branches."""
    check_literals(df)
    text = ident(text_col)
    base = df.columns
    comb = _combined_alternation(groks)
    clean = None
    if comb is not None:
        regex, total, wrapper_idx, cap_idx = comb
        DELIM = "\x01"
        rep = DELIM.join(f"${i}" for i in range(1, total + 1))
        # Optimizer barrier: spark_partition_id() is never negative, so the
        # if() is a semantic identity, but it is non-deterministic, so
        # Catalyst's CollapseProject / predicate pushdown do NOT inline
        # this expensive extraction into every downstream consumer
        # (observed without a barrier: 26 textual copies of the
        # regexp_replace in example #3's executed plan; a plain rand()>-1
        # guard gets constant-folded away). The barrier must carry no
        # seed: streaming's IncrementalExecution gives every seeded
        # expression (rand, shuffle, uuid, ...) a fresh seed on each
        # micro-batch, which changes the generated code, so a seeded
        # barrier recompiles the parse stage on every batch. Retries
        # recompute identical values.
        df = df.selectExpr(
            "*",
            f"if(spark_partition_id() < 0, NULL, split(regexp_replace({text}, "
            f"{quote(regex)}, {quote(rep)}), {quote(DELIM)}, -1)) AS _ca",
        )
        clean = f"size(_ca) = {total}"

    # the winner flags get a projection of their own: each is read by
    # several captures, so the optimizer keeps them computed once
    winner_cols: list[str] = []
    earlier: list[str] = []  # NOT (earlier pattern matches)
    for pi, g in enumerate(groks):
        match = f"{text} RLIKE {quote(g.regex)}"
        winner = all_of([match, all_of(earlier)]) if earlier else match
        earlier.append(f"NOT ({match})")
        if clean is not None:
            winner = case([(clean, f"element_at(_ca, {wrapper_idx[pi]}) = {text}")], winner)
        winner_cols.append(f"{winner} AS {ident('_w_' + g.name)}")
    df = df.selectExpr("*", *winner_cols)

    cap_cols: list[str] = []
    for cap, dtype in _all_caps_typed(groks).items():
        expr = f"CAST(NULL AS {dtype.simpleString()})"
        for pi in reversed(range(len(groks))):  # earlier patterns win
            g = groks[pi]
            if cap not in g.captures:
                continue
            raw = f"regexp_extract({text}, {quote(g.regex)}, {g.group_index[cap]})"
            if clean is not None:
                raw = case([(clean, f"element_at(_ca, {cap_idx[(pi, cap)]})")], raw)
            val = _cast_sql(f"nullif({raw}, '')", dtype)
            expr = case([(ident("_w_" + g.name), val)], expr)
        cap_cols.append(f"{expr} AS {ident(cap)}")

    matched_name = "CAST(NULL AS STRING)"
    for g in reversed(groks):
        matched_name = case([(ident("_w_" + g.name), quote(g.name))], matched_name)

    return df.selectExpr(
        *[ident(c) for c in base],
        *cap_cols,
        f"{matched_name} AS grok_pattern",
        case(
            [(f"{matched_name} IS NULL", "array('_grokparsefailure')")],
            "CAST(array() AS ARRAY<STRING>)",
        ) + " AS parse_tags",
    )
