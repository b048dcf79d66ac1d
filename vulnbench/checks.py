"""Output checks. Each returns a list of problems; empty means correct."""

from __future__ import annotations

import ast
import hashlib
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")

COMPACT_DB = "cvedb.compact"
REGULAR_DB = "cvedb.regular"


def _cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return "%.6g" % v
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return json.dumps([_cell(x) for x in v])
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-independent digest of a result: columns sorted by name,
    floats to 6 significant digits, rows sorted as text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_query(name: str, columns, rows, expected: str, expect_empty: bool) -> list[str]:
    problems = []
    if not rows and not expect_empty:
        problems.append(f"{name}: empty result")
    if digest(columns, rows) != expected:
        problems.append(f"{name}: digest differs from the DuckDB oracle")
    return problems


def golden_counts() -> tuple[dict[str, int], int]:
    """``GOLDEN_BUCKET_LINES`` and ``GOLDEN_APP_LINES`` from the sink
    tests, read without importing the test module."""
    with open(os.path.join(ROOT, "tests", "test_sink.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    found = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            if node.targets[0].id in ("GOLDEN_BUCKET_LINES", "GOLDEN_APP_LINES"):
                found[node.targets[0].id] = ast.literal_eval(node.value)
    return found["GOLDEN_BUCKET_LINES"], found["GOLDEN_APP_LINES"]


def pinned_shas(offset: int) -> dict[str, str] | None:
    with open(PINS, encoding="utf-8") as f:
        return json.load(f)["dbgen_fixture"].get(str(offset))


def sha256(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def check_db(
    out_dir: str,
    shas: dict[str, str],
    pinned: dict[str, str] | None,
    golden: tuple[dict[str, int], int] | None,
) -> tuple[list[str], dict[str, bytes]]:
    """Check the two containers ``update_db`` wrote to ``out_dir``.

    Returns the problems and the regular container's files."""
    from vul_dbgen_spark.sinks import memdb

    problems = []
    files: dict[str, bytes] = {}
    for db in (COMPACT_DB, REGULAR_DB):
        try:
            header, body = memdb.read_db_file(os.path.join(out_dir, db))
        except Exception as exc:  # noqa: BLE001 - any unreadable container is a failure
            problems.append(f"{db}: unreadable ({type(exc).__name__}: {exc})")
            continue
        actual = {n: sha256(b) for n, b in body.items()}
        if header.get("Shas") != actual:
            problems.append(f"{db}: header Shas differ from the files read back")
        if db == REGULAR_DB:
            files = body
            if shas != actual:
                problems.append(f"{db}: update_db's Shas differ from the files read back")
    if pinned is None:
        problems.append("no pinned manifest for this input")
    elif shas != pinned:
        problems.append("Shas differ from the pinned manifest")
    if golden and files:
        buckets, app_lines = golden
        for fam, n in buckets.items():
            for kind in ("index", "full"):
                got = len(files.get(f"{fam}_{kind}.tb", b"").splitlines())
                if got != n:
                    problems.append(f"{fam}_{kind}.tb: {got} lines, golden {n}")
        got = len(files.get("apps.tb", b"").splitlines())
        if got != app_lines:
            problems.append(f"apps.tb: {got} lines, golden {app_lines}")
    return problems, files
