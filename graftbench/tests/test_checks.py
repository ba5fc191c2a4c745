"""The output checks count wrong results as failed and never raise."""

import os

import pytest

from graftbench import datagen
from graftbench.checks import Checker, parse_rendered
from graftbench.workloads import rebuild_mismatch

COLS = ["k", "v"]
ORACLE = [(1, "a"), (2, "b"), (3, "c")]


def oracle(key):
    if key == "broken":
        raise RuntimeError("no oracle")
    return COLS, list(ORACLE)


def evaluate(*results, key="q"):
    ch = Checker()
    for rows in results:
        ch.record(key, (COLS, rows))
    return ch.attempted(), ch.evaluate(oracle)[0]


def test_matching_results_pass_in_any_row_order():
    assert evaluate(ORACLE, list(reversed(ORACLE))) == (2, 0)


def test_one_changed_cell_fails():
    assert evaluate(ORACLE, [(1, "a"), (2, "B"), (3, "c")]) == (2, 1)


def test_one_dropped_row_fails():
    assert evaluate(ORACLE[:2], ORACLE, ORACLE) == (3, 1)


def test_errors_and_missing_oracles_count_as_failed():
    ch = Checker()
    ch.record_error("q")
    ch.record("broken", (COLS, ORACLE))
    failed, problems = ch.evaluate(oracle)
    assert (ch.attempted(), failed, len(problems)) == (2, 2, 2)


def test_rendered_results_parse_back():
    text = "city  | pop\n-----------\nOsaka |   9\nKobe  |  15"
    assert parse_rendered(text) == (["city", "pop"], [("Osaka", "9"), ("Kobe", "15")])
    assert parse_rendered("city | pop\nOsaka | 9") == ([], [])


@pytest.fixture(scope="module")
def spark(tmp_path_factory, make_spark):
    return make_spark(str(tmp_path_factory.mktemp("spark")))


def _index_with(spark, root, gens):
    """An index over the base corpus plus batches ``gens`` of 3, and
    the document files of a full rebuild over all three batches."""
    from minoan_athenaeum_spark.sources.posting_sink import (
        append_to_bm25_index,
        compact_bm25_index,
        ensure_bm25_index,
    )

    inputs = datagen.write_ingest(str(root), 5, 400, 50, 3)
    path = ensure_bm25_index(spark, inputs["base"])
    for g in gens:
        append_to_bm25_index(spark, path, spark.read.parquet(inputs["batches"][g]))
    compact_bm25_index(spark, path)
    return path, [os.path.join(inputs["base"], "documents.parquet"), *inputs["batches"]]


def test_rebuild_check_catches_a_skipped_batch(spark, tmp_path):
    assert rebuild_mismatch(*_index_with(spark, tmp_path, [0, 2])) > 0


def test_rebuild_check_passes_a_complete_index(spark, tmp_path):
    assert rebuild_mismatch(*_index_with(spark, tmp_path, [0, 1, 2])) == 0
