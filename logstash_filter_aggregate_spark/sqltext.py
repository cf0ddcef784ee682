"""SQL text for the engine's projections.

Every ``pyspark.sql.functions`` call is one or more Py4J round trips, and
PySpark captures the Python call site for each; a stage built from a few
hundred Column calls spends its planning time in the gateway socket. The
routed-path stages instead compose SQL text and hand each projection to
one ``selectExpr``: one analysis and a handful of round trips per stage.
The rule conditions and aggregation inputs of a config are SQL text
already, so they compose directly.

String literals rely on the default SQL parser, which unescapes
backslashes (``spark.sql.parser.escapedStringLiterals=false``);
:func:`check_literals` rejects a session that parses them verbatim.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from logstash_filter_aggregate_spark.config import ConfigurationError


def check_literals(df: DataFrame) -> None:
    """Raise unless ``df``'s session unescapes string literals: under
    ``spark.sql.parser.escapedStringLiterals=true`` every :func:`quote`
    literal would keep its doubled backslashes, and a regex like ``\\d``
    would silently match nothing."""
    conf = "spark.sql.parser.escapedStringLiterals"
    if df.sparkSession.conf.get(conf, "false").strip().lower() == "true":
        raise ConfigurationError(f"{conf}=true is unsupported: the engine's SQL text needs escaped literals")


def quote(s: str) -> str:
    """The Spark SQL string literal whose value is ``s``: backslashes
    doubled and quotes escaped, every other character verbatim (so a
    regex's ``\\d`` or ``\\u`` reaches the engine unchanged)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """A column name as a backquoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def double(x: float) -> str:
    """A DOUBLE literal (a bare ``1.5`` would parse as DECIMAL)."""
    x = float(x)
    if not math.isfinite(x):
        return f"CAST({quote(str(x))} AS DOUBLE)"
    return f"{x!r}D" if x >= 0 else f"({x!r}D)"


def case(branches: list[tuple[str, str]], otherwise: str | None = None) -> str:
    """``CASE WHEN c THEN v ... [ELSE e] END``; the first true condition
    wins, exactly like a chain of ``F.when``."""
    whens = " ".join(f"WHEN {c} THEN {v}" for c, v in branches)
    return f"CASE {whens}{'' if otherwise is None else f' ELSE {otherwise}'} END"


def any_of(conds: list[str]) -> str:
    """``c1 OR c2 OR ...`` nested to the left, the tree chained Column
    ``|`` builds (the SQL parser would balance a flat chain); ``false``
    when empty."""
    return _chain("OR", conds, "false")


def all_of(conds: list[str]) -> str:
    """``c1 AND c2 AND ...`` nested to the left; ``true`` when empty."""
    return _chain("AND", conds, "true")


def _chain(op: str, conds: list[str], empty: str) -> str:
    if not conds:
        return empty
    out = f"({conds[0]})"
    for c in conds[1:]:
        out = f"({out} {op} ({c}))"
    return out


def with_columns(df: DataFrame, cols: dict[str, str], drop=()) -> DataFrame:
    """``df.withColumns(cols).drop(*drop)`` over SQL text, as one
    projection: a column whose name exists (case-insensitively, as Spark
    resolves it) is replaced in place, the others are appended in order."""
    current = df.columns
    have = [c.lower() for c in current]
    gone = {d.lower() for d in drop}
    if not gone and not any(n.lower() in have for n in cols):
        return df.selectExpr("*", *[f"{e} AS {ident(n)}" for n, e in cols.items()])
    new = {n.lower(): (n, e) for n, e in cols.items()}
    sel = []
    for c, low in zip(current, have):
        if low in gone:
            continue
        n, e = new.pop(low, (None, None))
        sel.append(ident(c) if n is None else f"{e} AS {ident(n)}")
    sel += [f"{e} AS {ident(n)}" for n, e in new.values() if n.lower() not in gone]
    return df.selectExpr(*sel)
