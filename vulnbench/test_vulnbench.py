"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest vulnbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from tracing import Span, covered, self_times  # noqa: E402


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "pass", None, 0.0, 10.0),
        # two children overlapping each other (threads): union is 1..6
        Span(1, "sinks.update_db", 0, 1.0, 5.0),
        Span(2, "sinks.app_vuln_lines", 0, 4.0, 6.0),
        # grandchild: subtracted from its parent only
        Span(3, "sinks.os_vuln_lines", 1, 2.0, 3.0),
        # still open: ignored
        Span(4, "queries.x", 0, 7.0, None),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[1] == pytest.approx(4 - 1)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(1)
    assert 4 not in st


def test_digest_ignores_row_and_column_order():
    cols = ["b", "a"]
    rows = [(1.0000001, "x"), (2.5, None), (None, "y")]
    swapped = [(r[1], r[0]) for r in reversed(rows)]
    assert checks.digest(cols, rows) == checks.digest(["a", "b"], swapped)
    assert checks.digest(cols, rows) != checks.digest(cols, rows[:2] + [(3.0, "y")])


def test_corrupted_query_result_is_a_failure():
    cols, rows = ["k", "v"], [(1, "a"), (2, "b")]
    good = checks.digest(cols, rows)
    assert checks.check_query("q", cols, rows, good, False) == []
    corrupted = [(1, "a"), (2, "c")]
    assert checks.check_query("q", cols, corrupted, good, False)
    assert checks.check_query("q", cols, [], checks.digest(cols, []), False)
    assert checks.check_query("q", cols, [], checks.digest(cols, []), True) == []


def _write_db(out_dir: str) -> dict[str, str]:
    from vul_dbgen_spark.sinks import memdb

    buckets, app_lines = checks.golden_counts()
    files = []
    for fam, n in buckets.items():
        for kind in ("index", "full"):
            files.append((f"{fam}_{kind}.tb", b"{}\n" * n))
    files.append(("apps.tb", b"{}\n" * app_lines))
    shas = {name: checks.sha256(body) for name, body in files}
    for db in (checks.COMPACT_DB, checks.REGULAR_DB):
        memdb._create_db_file(
            os.path.join(out_dir, db), {"Version": "1.0", "Shas": shas}, files
        )
    return shas


def test_db_check_accepts_a_good_container(tmp_path):
    shas = _write_db(str(tmp_path))
    problems, files = checks.check_db(str(tmp_path), shas, shas, checks.golden_counts())
    assert problems == []
    assert "apps.tb" in files


def test_corrupted_db_is_a_failure(tmp_path):
    shas = _write_db(str(tmp_path))
    golden = checks.golden_counts()
    other = dict(shas, **{"apps.tb": "0" * 64})
    assert checks.check_db(str(tmp_path), shas, other, golden)[0]
    assert checks.check_db(str(tmp_path), other, shas, golden)[0]
    path = tmp_path / checks.REGULAR_DB
    blob = bytearray(path.read_bytes())
    blob[-1] ^= 0xFF
    path.write_bytes(bytes(blob))
    assert checks.check_db(str(tmp_path), shas, shas, golden)[0]


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_vuln_corpus_seed_determinism(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    info_a = inputs.vuln_corpus(inputs.fresh_dir(a), 3)
    info_b = inputs.vuln_corpus(inputs.fresh_dir(b), 3)
    info_c = inputs.vuln_corpus(inputs.fresh_dir(c), 5)
    assert _tree_digest(a) == _tree_digest(b)
    assert info_a == info_b
    assert info_c == info_a  # same file count and size
    assert _tree_digest(a) != _tree_digest(c)


def test_vuln_corpus_offset_zero_is_the_fixture(tmp_path):
    out = str(tmp_path / "x")
    inputs.vuln_corpus(inputs.fresh_dir(out), inputs.ID_OFFSETS)
    assert _tree_digest(out) == _tree_digest(os.path.join(inputs.ROOT, inputs.FIXTURE_CORPUS))


def test_catalog_tables_seed_determinism(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.catalog_tables(inputs.fresh_dir(a), 7)
    inputs.catalog_tables(inputs.fresh_dir(b), 7)
    inputs.catalog_tables(inputs.fresh_dir(c), 8)
    assert _tree_digest(a) == _tree_digest(b)
    assert sorted(os.listdir(a)) == sorted(os.listdir(c))
    for name in os.listdir(a):
        ta, tc = pq.read_table(os.path.join(a, name)), pq.read_table(os.path.join(c, name))
        assert ta.schema == tc.schema and ta.num_rows == tc.num_rows
    assert _tree_digest(a) != _tree_digest(c)


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_layer_metrics_report_every_name_without_spans():
    class Empty:
        spans: list = []
        rows: dict = {}

    from collections import defaultdict

    empty = Empty()
    empty.rows = defaultdict(float)
    m = run.layer_metrics(empty, 1, [2.0], 4, {})
    assert sorted(m) == sorted(name for name, _ in run.per_layer_names())


def test_tree_cpu_counts_this_process():
    from procstat import cpu_ticks, steal_ratio_since, tree_cpu_s

    before, ticks = tree_cpu_s(os.getpid()), cpu_ticks()
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    assert tree_cpu_s(os.getpid()) - before >= 0.2
    assert 0.0 <= steal_ratio_since(ticks) <= 1.0
