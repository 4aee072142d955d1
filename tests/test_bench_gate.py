"""bench.py fails loudly: a failed query leaves no headline value."""

from __future__ import annotations

import pytest

import __spark_entry__
import bench
import ertransfer_spark.session


class _StubSpark:
    stopped = False

    def stop(self):
        self.stopped = True


def test_failed_query_exits_nonzero_without_value(monkeypatch, capsys):
    stub = _StubSpark()

    def broken(spark, sf_dir):
        raise ValueError("broken query")

    monkeypatch.setattr(ertransfer_spark.session, "get_spark", lambda *a, **kw: stub)
    monkeypatch.setattr(__spark_entry__, "queries", lambda: {"broken": broken})
    monkeypatch.setattr(bench, "HEADLINE", ["broken"])
    monkeypatch.setattr(bench, "run_er_pipeline", lambda *a: pytest.fail("ran after a failure"))
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code not in (0, None)
    out = capsys.readouterr()
    assert out.out == ""
    assert "broken" in out.err
    assert stub.stopped
