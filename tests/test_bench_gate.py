"""bench.py fails loudly: a failed query leaves no headline value; the
warm-up pass is untimed and ``--reps`` keeps each query's best."""

from __future__ import annotations

import json
from types import SimpleNamespace

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


def test_warmup_untimed_and_reps_keep_each_best(monkeypatch, capsys):
    clock = [0.0]
    query_secs = iter([9.0, 3.0, 2.0, 4.0])   # warm-up, then three timed passes
    er_secs = iter([20.0, 6.0, 7.0, 5.0])

    def query(spark, sf_dir):
        clock[0] += next(query_secs)

    def er_pipeline(spark, sf):
        return 100, next(er_secs)

    monkeypatch.setattr(ertransfer_spark.session, "get_spark", lambda *a, **kw: _StubSpark())
    monkeypatch.setattr(__spark_entry__, "queries", lambda: {"q": query})
    monkeypatch.setattr(bench, "HEADLINE", ["q"])
    monkeypatch.setattr(bench, "force", lambda df: None)
    monkeypatch.setattr(bench, "time", SimpleNamespace(time=lambda: clock[0]))
    monkeypatch.setattr(bench, "run_er_pipeline", er_pipeline)
    bench.main(["--reps", "3"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["queries"] == {"q": 2.0, "er_pipeline": 5.0}
    assert out["value"] == 7.0 and out["reps"] == 3
    assert next(query_secs, None) is None   # the warm-up ran, untimed
