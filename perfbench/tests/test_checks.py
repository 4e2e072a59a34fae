"""The extraction output digest and the oracle comparison."""

import copy

from document_extraction_service_spark import fixtures as fx
from document_extraction_service_spark.extract.pipeline import extract_document
from perfbench.checks import matches_oracle, python_digest, row_hash, spark_digest


def _replay(n):
    rows = [fx.gen_page(i, 7) for i in range(n)]
    return rows, [extract_document(r["html"], r["url"], r["lang"], r["text"]) for r in rows]


def _digest(rows, results):
    return python_digest([r["url"] for r in rows],
                         [row_hash(r["url"], res) for r, res in zip(rows, results)])


def test_digest_is_order_independent():
    rows, results = _replay(40)
    assert _digest(rows, results) == _digest(rows[::-1], results[::-1])


def test_digest_catches_one_corrupted_row():
    rows, results = _replay(40)
    good = _digest(rows, results)
    for mutate in (
        lambda r: r["extraction"].__setitem__("extracted_text",
                                              r["extraction"]["extracted_text"] + " "),
        lambda r: r["status"].__setitem__("ok", False),
        lambda r: r["status"].__setitem__("n_tables", r["status"]["n_tables"] + 1),
        lambda r: r["status"].__setitem__("error", "boom"),
    ):
        bad = copy.deepcopy(results)
        mutate(bad[17])
        assert _digest(rows, bad) != good


def test_digest_catches_a_duplicated_or_missing_url():
    rows, results = _replay(40)
    good = _digest(rows, results)
    assert _digest(rows[:-1], results[:-1]) != good
    assert _digest(rows + rows[:1], results + results[:1]) != good


def test_spark_digest_equals_python_digest(spark, tmp_path):
    from document_extraction_service_spark.schema import RESULT

    rows, results = _replay(30)
    df = spark.createDataFrame(
        [(r["url"], res["extraction"], res["status"]) for r, res in zip(rows, results)],
        "url string, extraction " + RESULT["extraction"].dataType.simpleString()
        + ", status " + RESULT["status"].dataType.simpleString(),
    )
    df.write.parquet(str(tmp_path / "out"))
    assert spark_digest(spark, str(tmp_path / "out")) == _digest(rows, results)


def test_matches_oracle_ignores_row_and_column_order():
    expected = {"cols": ["a", "b"], "key": [["1", "x"], ["2", "y"]]}
    assert matches_oracle([("y", 2), ("x", 1)], ["b", "a"], expected)
    assert not matches_oracle([("y", 2), ("x", 3)], ["b", "a"], expected)
    assert not matches_oracle([("y", 2), ("x", 1)], ["b", "c"], expected)
