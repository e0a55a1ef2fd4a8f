"""`bench.py --only` checks its names before any Spark session starts, so a
typo fails fast instead of after JVM start-up and warmups. No Spark session
is started."""

import pytest

import bench
import peerdb_spark


class _SparkRequested(Exception):
    pass


@pytest.fixture
def no_spark(monkeypatch):
    def _refuse(*args, **kwargs):
        raise _SparkRequested

    monkeypatch.setattr(peerdb_spark, "get_spark", _refuse)


def test_only_rejects_an_unknown_name_before_spark(no_spark, capsys):
    with pytest.raises(SystemExit) as exc:
        bench.main(["--only", "cdc_normalize_merge,no_such_query"])
    assert exc.value.code != 0
    err = capsys.readouterr().err
    assert "unknown query name(s): no_such_query" in err


def test_only_accepts_declared_queries_and_the_cdc_pipeline(no_spark):
    with pytest.raises(_SparkRequested):
        bench.main(["--only", "cdc_pipeline_e2e,cdc_normalize_merge"])
