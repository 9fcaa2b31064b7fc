"""Tests of the benchmark's own code: generators, percentiles, query panel.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import ingest_gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tables_gen  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_ingest_generator_is_seeded(tmp_path):
    a = ingest_gen.generate(str(tmp_path / "a"), 7, scale=0.1)
    b = ingest_gen.generate(str(tmp_path / "b"), 7, scale=0.1)
    c = ingest_gen.generate(str(tmp_path / "c"), 8, scale=0.1)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert a == b
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert a != c


def test_ingest_batches_exercise_the_cleaning_code(tmp_path):
    truth = ingest_gen.generate(str(tmp_path), 3, scale=0.2)
    raw = b""
    for b in ("batch1", "batch2"):
        for f in os.listdir(tmp_path / b):
            raw += (tmp_path / b / f).read_bytes()
    for needle in ("|NULL|", "|None|", "|nan|", "||", "â€", "  "):
        assert needle.encode("utf-8") in raw, needle
    # one file is latin-1, i.e. not valid UTF-8
    people1 = (tmp_path / "batch1" / "CHHSCA_people_20240301.txt").read_bytes()
    try:
        people1.decode("utf-8")
        raise AssertionError("people batch 1 should be latin-1")
    except UnicodeDecodeError:
        pass
    files = truth["files"].values()
    # three all-null rows in every file, three rows missing the key where one is required
    for f in files:
        assert f["dropped"] == (6 if f["table"] in ingest_gen.REQUIRED_KEY_TABLES else 3)
    # keys duplicated within the upsert batch: fewer distinct keys than data rows
    for f in files:
        if f["batch"] == 2:
            assert f["inserted"] + f["updated"] < f["input_rows"] - f["dropped"]
            assert f["updated"] > 0 and f["inserted"] > 0


def test_expected_reports_agree_with_the_row_model(tmp_path):
    truth = ingest_gen.generate(str(tmp_path), 4, scale=0.2, tables=run.ETL_TABLES)
    assert set(truth["rows"][2]) == set(run.ETL_TABLES)
    for batch in (1, 2):
        final, rows = truth["final"][batch], truth["rows"][batch]
        exp = ingest_gen.expected_reports(final)
        assert sum(r[2] for r in exp["income_distribution"]) == rows["people"]
        assert sum(r[1] for r in exp["status_distribution:cases"]) == rows["cases"]
        assert sum(r[1] for r in exp["status_distribution:referrals"]) == rows["referrals"]
        assert sum(r[1] for r in exp["timeline:cases:month"]) <= rows["cases"]


def test_clean_value_model():
    assert ingest_gen.clean_value("  open ") == "open"
    assert ingest_gen.clean_value(" NULL ") is None
    assert ingest_gen.clean_value("nan") is None
    assert ingest_gen.clean_value("None") is None
    assert ingest_gen.clean_value("") is None
    assert ingest_gen.clean_value("Aunt Bettyâ€™s") == "Aunt Betty's"


def test_table_generator_is_seeded(tmp_path):
    a = tables_gen.generate(str(tmp_path / "a"), 5, 0.001)
    tables_gen.generate(str(tmp_path / "b"), 5, 0.001)
    tables_gen.generate(str(tmp_path / "c"), 6, 0.001)
    assert a["lineitem"] == 6000 and a["documents"] == 500
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(30) == 66
    assert stats.tail_percentile(10) is None
    for n in range(11, 300):
        p = stats.tail_percentile(n)
        beyond = n * (100 - p) / 100
        assert beyond >= 10 and n * (100 - (p + 1)) / 100 < 10, n


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == 50.5
    assert stats.percentile(xs, 90) == 90.1
    assert stats.percentile([3.0], 66) == 3.0


def test_panel_ignores_registry_order():
    from calaveras_uniteus_etl_spark.plans import REGISTRY

    base = run.panel(REGISTRY)
    assert len(base) == 2 * run.PANEL_PER_POOL == len(set(base))
    assert run.CONTROL_QUERY in base
    assert not set(base) & set(run.OFF_PANEL)
    names = list(REGISTRY)
    for order in (names[::-1], random.Random(0).sample(names, len(names))):
        assert run.panel({n: REGISTRY[n] for n in order}) == base


def test_best_pass_sums_each_reads_best():
    reads = [{"id": "a", "s": 2.0}, {"id": "b", "s": 1.0}, {"id": "a", "s": 1.5}, {"id": "b", "s": 3.0}]
    assert run.best_pass_s(reads, "id") == 2.5


def test_cpu_s_counts_this_process():
    before, t = run.cpu_s(), time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert run.cpu_s() - before >= 0.2
