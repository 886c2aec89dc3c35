"""Output checkers, run outside every timed region.

Each checker compares what the pipeline wrote against a reference
computed independently in Python (streams) or by the query's DuckDB
oracle (batch), and returns the list of mismatches; an empty list means
the output is correct. Every mismatch counts as one failure.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import sys
from collections import Counter

_SPLIT = re.compile(r"[^a-z0-9_]+")  # Java's ASCII \W+, as word_count splits


def expected_counts(lines: list[str]) -> Counter:
    """Reference word count: lower, split on non-word runs, drop empties."""
    c: Counter = Counter()
    for line in lines:
        c.update(w for w in _SPLIT.split(line.lower()) if w)
    return c


def latest_counts(changelog: list[tuple[int, int, bytes]]) -> dict[str, int]:
    """KTable view of a ``(partition, offset, value)`` changelog whose
    values are ``{"word", "cnt"}`` JSON: the latest record per word wins."""
    latest: dict[str, int] = {}
    for _, _, value in sorted(changelog):
        rec = json.loads(value)
        latest[rec["word"]] = rec["cnt"]
    return latest


def check_wordcount(lines: list[str],
                    changelog: list[tuple[int, int, bytes]]) -> list[str]:
    """Mismatches between the changelog's latest counts and a Counter
    over every produced line (one entry per wrong, missing or extra word)."""
    want = expected_counts(lines)
    got = latest_counts(changelog)
    bad = []
    for word in sorted(set(want) | set(got)):
        if want.get(word) != got.get(word):
            bad.append(f"{word}: expected {want.get(word)} got {got.get(word)}")
    return bad


def expected_pairs(left: list[tuple[int, int, int]],
                   right: list[tuple[int, int, int]],
                   window_ms: int) -> Counter:
    """Inner-join reference over ``(key, value, ts_ms)`` records: every
    left/right pair with equal keys and ``|l_ts - r_ts| <= window_ms``."""
    by_key: dict[int, list[tuple[int, int]]] = {}
    for k, v, ts in right:
        by_key.setdefault(k, []).append((v, ts))
    pairs: Counter = Counter()
    for k, lv, lts in left:
        for rv, rts in by_key.get(k, ()):
            if abs(lts - rts) <= window_ms:
                pairs[(k, lv, rv)] += 1
    return pairs


def check_join(left: list[tuple[int, int, int]],
               right: list[tuple[int, int, int]],
               rows: list[tuple[int, int, int]], window_ms: int) -> list[str]:
    """Mismatches between the sink's ``(key, l_value, r_value)`` rows and
    the reference pairs, each of which must appear exactly once."""
    want = expected_pairs(left, right, window_ms)
    got = Counter(rows)
    bad = [f"missing {p}" for p in sorted((want - got).elements())]
    bad += [f"unexpected {p}" for p in sorted((got - want).elements())]
    return bad


def load_oracle_check(repo_root: str):
    """Import ``tools/check.py`` (the oracle-parity normalisation) by
    path; it prepends its own default root to ``sys.path``, which is
    undone so the package keeps resolving from ``repo_root``."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "_oracle_check", os.path.join(repo_root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def compare_tables(oc, scols: list[str], srows: list[tuple],
                   ocols: list[str], orows: list[tuple]) -> list[str]:
    """Row count, column names and order-insensitive value hash, exactly
    as ``tools/check.py`` compares a query with its oracle twin."""
    bad = []
    if len(srows) != len(orows):
        bad.append(f"rowcount spark={len(srows)} duck={len(orows)}")
    if sorted(scols) != sorted(ocols):
        bad.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
    if not bad:
        sh, dh = oc.table_hash(scols, srows), oc.table_hash(ocols, orows)
        if sh != dh:
            bad.append(f"hash spark={sh} duck={dh}")
    return bad


def spark_rows(oc, df) -> tuple[list[str], list[tuple]]:
    """A Spark result as the oracle check sees it (through pandas)."""
    cols = list(df.columns)
    dtypes = {f.name: f.dataType.simpleString().upper()
              for f in df.schema.fields}
    return cols, oc._pandas_rows(df.toPandas(), cols, dtypes)


def oracle_rows(oc, con, sql: str) -> tuple[list[str], list[tuple]]:
    """The DuckDB oracle's result as the oracle check sees it."""
    dtypes = {d[0]: str(d[1]).upper()
              for d in con.execute("DESCRIBE " + sql).fetchall()}
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, oc._pandas_rows(res.df(), cols, dtypes)
