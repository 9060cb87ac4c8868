"""Scratch-file lifetime: every file the package writes lives under one
per-process root (``session.scratch_path``), which is removed when the
interpreter exits."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys
import tempfile

from tests.conftest import SF_SMOKE

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "hive_reflex_spark"

# write-path queries: a staged stream dir, a CSV sink, a JSON sink with a
# config file, and a JSON device tx log
_QUERIES = (
    "q62_streaming_hourly",
    "q161_profile_csv_roundtrip",
    "q162_jsonlog_roundtrip",
    "q217_device_roundtrip",
)

_CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
import hive_reflex_spark.operators  # registers queries
from hive_reflex_spark.registry import QUERIES
from hive_reflex_spark.session import get_spark, scratch_path

spark = get_spark("scratch-lifetime", shuffle_partitions=2)
for name in {queries!r}:
    assert QUERIES[name](spark, {sf!r}).collect(), name
written = []
for dirpath, dirs, files in os.walk(os.environ["TMPDIR"]):
    written += [os.path.join(dirpath, f) for f in dirs + files]
print(json.dumps({{
    "root": scratch_path(),
    "warehouse": spark.conf.get("spark.sql.warehouse.dir"),
    "written": written,
}}))
"""


def test_scratch_root_holds_every_write_and_is_removed_at_exit():
    with tempfile.TemporaryDirectory() as tmp:
        env = dict(
            os.environ,
            TMPDIR=tmp,
            SPARK_GRAFT_CPUS="2",
            SPARK_GRAFT_DRIVER_MEM="1g",
        )
        script = _CHILD.format(repo=str(REPO), queries=_QUERIES, sf=SF_SMOKE)
        proc = subprocess.run(
            [sys.executable, "-c", script],
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        root = out["root"].rstrip("/")
        assert os.path.dirname(root) == tmp
        assert os.path.basename(root).startswith("hrs_")
        assert out["warehouse"].removeprefix("file:").startswith(root + "/")
        assert out["written"], "the queries wrote nothing"
        outside = [
            p for p in out["written"] if os.path.commonpath([p, root]) != root
        ]
        assert not outside, outside
        # each query family wrote under the root
        for sub in ("stream", "artifacts", "devtx"):
            assert os.path.join(root, sub) in out["written"], sub
        assert os.listdir(tmp) == [], "scratch outlived the interpreter"


def _offences(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        where = f"{path.relative_to(REPO)}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""]
        else:
            names = []
        found += [f"{where} imports {n}" for n in names
                  if n in ("tempfile", "fcntl")]
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                fn, "id", ""
            )
            if name in ("gettempdir", "mkdtemp", "getpid", "getuid"):
                found.append(f"{where} calls {name}")
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and (node.value == "/tmp" or node.value.startswith("/tmp/"))
        ):
            found.append(f"{where} names {node.value!r}")
    return found


def test_only_session_decides_where_scratch_lives():
    """No package module but session.py picks a temp location, keys a
    path by process or user id, or locks files across processes."""
    offences = []
    for path in sorted(PKG.rglob("*.py")):
        if path != PKG / "session.py":
            offences += _offences(path)
    assert not offences, offences
