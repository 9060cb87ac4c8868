"""Every registered oracle must at least PLAN in DuckDB — a seconds-fast
net for SQL typos/dialect slips that otherwise only surface in the
driver's full parity run (or worse, in CORRECTNESS_r{N} as an err)."""

from __future__ import annotations

import ast
import pathlib
import re

import duckdb
import pytest

import hive_reflex_spark
import hive_reflex_spark.operators  # noqa: F401 — registers queries
from hive_reflex_spark.io import TABLES
from hive_reflex_spark.registry import ORACLES
from tests.conftest import SF_SMOKE as SF


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return c


def test_every_oracle_plans_in_duckdb(con):
    bad = {}
    for name, sql in ORACLES.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as ex:  # noqa: BLE001 — collect all failures
            bad[name] = str(ex).splitlines()[0]
    assert not bad, bad


def test_oracle_coverage_ratio():
    """Rows-only queries stay the justified exceptions, not a leak."""
    from hive_reflex_spark.registry import QUERIES

    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only <= {
        "q28_approx_distinct",      # HLL sketch — engine-specific
        "q68_lstm_hidden",          # float recurrence — numpy pytest
                                    # oracle (q68a/q68b are the
                                    # hash-checked fixed-point twins)
    }, rows_only


def test_driver_window_fully_oracled():
    """The driver hash-checks only the FIRST 50 registered queries — a
    rows-only query sitting in a window slot would burn judged evidence
    on the weaker check. Every slot must carry an oracle."""
    from hive_reflex_spark.registry import QUERIES

    window = list(QUERIES)[:50]
    missing = [n for n in window if n not in ORACLES]
    assert not missing, f"rows-only queries occupy driver slots: {missing}"


_HAND_SUM = re.compile(r"CAST\(\s*SUM\(\s*CAST\(\s*ROUND\(")
_UNIT_CLOSE = re.compile(r"\s*AS BIGINT\)\)\s*AS BIGINT\)")


def _hand_spelled_unit_sums(text: str) -> list[str]:
    """Every ``CAST(SUM(CAST(ROUND(x) AS BIGINT)) AS BIGINT)`` in text:
    the integer-unit sum that ``functions.duck_unit_sum`` owns. Windowed
    sums (``... )) OVER``) and sums of products do not have this shape."""
    text = " ".join(text.split())
    found = []
    for m in _HAND_SUM.finditer(text):
        depth, k = 0, m.end()
        while k < len(text) and (text[k] != ")" or depth):
            depth += {"(": 1, ")": -1}.get(text[k], 0)
            k += 1
        if _UNIT_CLOSE.match(text, k + 1):
            found.append(text[m.start():k + 1])
    return found


def test_oracle_exact_sums_use_the_shared_helpers():
    """Oracle SQL spells an exact sum through ``duck_exact_sum`` /
    ``duck_unit_sum``, never by hand: no string constant or f-string
    outside ``functions/__init__.py`` holds the unit-sum shape (an
    f-string's replacement fields read as ``{}``)."""
    pkg = pathlib.Path(hive_reflex_spark.__file__).parent
    owner = pkg / "functions" / "__init__.py"
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.JoinedStr):
                text = "".join(
                    v.value if isinstance(v, ast.Constant) else "{}"
                    for v in node.values
                )
            elif isinstance(node, ast.Constant) and isinstance(
                node.value, str
            ):
                text = node.value
            else:
                continue
            bad += [
                f"{path.relative_to(pkg)}:{node.lineno}: {hit}"
                for hit in _hand_spelled_unit_sums(text)
            ]
    assert not bad, bad
