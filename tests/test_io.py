"""Format IO roundtrips (SURVEY.md §2.1 S7): parquet/csv/json."""

from __future__ import annotations

import pytest

from rdkafka_streams_spark.core.io import load_table, read_any, write_any


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json"])
def test_roundtrip(spark, sf_dir, tmp_path, fmt):
    src = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / f"nation_{fmt}")
    write_any(src, path, fmt)
    back = read_any(spark, path, fmt, schema=src.schema)
    assert back.count() == src.count()
    assert {r["n_name"] for r in back.collect()} == {r["n_name"] for r in src.collect()}


def test_load_table_rejects_unknown(spark, sf_dir):
    with pytest.raises(KeyError):
        load_table(spark, sf_dir, "nope")


def test_refused_conf_tolerated_other_errors_propagate(tmp_path):
    """``tune_runtime`` and ``load_table`` tolerate only the session's
    refusal to change a conf (``AnalysisException``); any other failure of
    ``conf.set`` propagates. Stub session, no Spark."""
    from types import SimpleNamespace

    from pyspark.errors import AnalysisException

    from rdkafka_streams_spark.core.session import tune_runtime

    class Conf:
        def __init__(self, exc):
            self.exc = exc

        def set(self, key, value):
            raise self.exc

    def stub(exc):
        frame = SimpleNamespace(dtypes=[("n_name", "string")])
        return SimpleNamespace(conf=Conf(exc),
                               read=SimpleNamespace(parquet=lambda path: frame))

    refused = stub(AnalysisException("CANNOT_MODIFY_STATIC_CONFIG"))
    assert tune_runtime(refused) is refused
    assert load_table(refused, str(tmp_path), "nation").dtypes == [("n_name", "string")]
    broken = stub(RuntimeError("boom"))
    with pytest.raises(RuntimeError, match="boom"):
        tune_runtime(broken)
    with pytest.raises(RuntimeError, match="boom"):
        load_table(broken, str(tmp_path), "nation")
