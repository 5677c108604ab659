"""bench.py's stdout contract: the detail line, then the compact final line
a bounded stdout tail parses."""

from __future__ import annotations

import json

from tests.conftest import SF_SMOKE


def test_bench_prints_detail_then_compact_line(spark, monkeypatch, capsys):
    import bench
    from slr207_mapreduce_spark import session

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    monkeypatch.setattr(session, "get_session", lambda **_kw: spark)
    monkeypatch.setattr(bench, "BENCH_QUERIES", ["wordcount_topk", "q6_forecast_revenue"])
    monkeypatch.setattr(
        bench,
        "TIERS",
        {
            "here": (lambda sf_dir: sf_dir, 1, ["q1_pricing_summary"]),
            "bad": (lambda sf_dir: sf_dir, 1, ["no_such_query"]),
        },
    )

    assert bench.main() == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 2
    detail, final = (json.loads(line) for line in lines)

    assert set(final) == {
        "metric", "value", "unit", "queries", "sf", "value_median", "tiers", "detail",
    }
    assert set(final["queries"]) == {"wordcount_topk", "q6_forecast_revenue"}
    assert final["value"] == round(sum(final["queries"].values()), 3)
    assert final["sf"] == 0.001
    assert final["tiers"]["here"] == detail["here"]["value"] > 0
    assert final["tiers"]["bad"] is None
    assert set(detail["bad"]) == {"error"}
    assert detail["runs_per_query"] == bench.HEADLINE_RUNS
    for compiles in (detail["codegen_compiles"], detail["here"]["codegen_compiles"]):
        assert isinstance(compiles, int) and compiles >= 0
