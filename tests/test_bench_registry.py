"""The bench and the correctness tools read one gate registry; no Spark
session needed."""

import pytest

import __spark_entry__ as E
from pdf_parser_spark.generator import table_path


def test_bench_names_are_registered_gates():
    assert len(set(E.BENCH)) == len(E.BENCH)
    qs = E.queries()
    assert [n for n in E.BENCH if n not in qs] == []
    assert "layout_extract_a003" in E.BENCH  # the turns/sec headline
    assert set(qs) == set(E.oracle_sql())  # every gate has its oracle
    # a name registers once: a second record would shadow the first
    with pytest.raises(ValueError, match="already registered"):
        E._gate("layout_extract_a003", lambda: "SELECT 1")(E.entry)
    assert E.GATES["layout_extract_a003"].query is qs["layout_extract_a003"]


def test_table_path_prefers_nonrep(tmp_path):
    d = str(tmp_path)
    (tmp_path / "documents.parquet").touch()
    (tmp_path / "embeddings.parquet").touch()
    (tmp_path / "embeddings_nonrep.parquet").touch()
    assert table_path(d, "documents") == str(tmp_path / "documents.parquet")
    assert table_path(d, "embeddings") == str(
        tmp_path / "embeddings_nonrep.parquet")
