"""bench.py's command line: the HEADLINE list, --queries, --explain and the
BENCH_LAST.json mirror, run on the test session at sf0.001."""
import json

import pytest

import __spark_entry__ as entry_mod
import bench


@pytest.fixture
def on_test_session(monkeypatch, spark, sf_dir):
    monkeypatch.setattr(bench, "bench_session", lambda *a, **k: spark)
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)


def test_headline_is_unique_and_registered():
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert set(bench.HEADLINE) <= set(entry_mod.queries())


def test_queries_keep_the_given_order_and_default_to_headline():
    assert bench.parse_args([]).queries == bench.HEADLINE
    assert bench.parse_args(["--queries", "q_matmul,q1_pricing_summary"]).queries \
        == ["q_matmul", "q1_pricing_summary"]


def test_unknown_query_exits_2_before_any_session(monkeypatch, capsys):
    def no_session(*a, **k):
        raise AssertionError("a session was started")

    monkeypatch.setattr(bench, "bench_session", no_session)
    with pytest.raises(SystemExit) as ei:
        bench.main(["--queries", "q1_pricing_summary,q_no_such_query"])
    assert ei.value.code == 2
    err = capsys.readouterr().err
    assert "usage:" in err and "q_no_such_query" in err


def test_explain_writes_formatted_plans(on_test_session, tmp_path, capsys):
    out = tmp_path / "plans_after"
    bench.main(["--queries", "q1_pricing_summary", "--explain", str(out)])
    assert [p.name for p in out.iterdir()] == ["q1_pricing_summary.txt"]
    assert "Physical Plan" in (out / "q1_pricing_summary.txt").read_text()
    assert "Exchange refs" in capsys.readouterr().out


def test_only_a_full_headline_run_writes_the_mirror(
        on_test_session, monkeypatch, tmp_path, capsys):
    headline = ["q1_pricing_summary", "q_exact_dedup"]
    mirror = tmp_path / "BENCH_LAST.json"
    mirror.write_text("round record\n")
    monkeypatch.setattr(bench, "HEADLINE", headline)
    monkeypatch.setattr(bench, "MIRROR", str(mirror))

    bench.main(["--queries", "q_exact_dedup"])
    subset = json.loads(capsys.readouterr().out)
    assert mirror.read_text() == "round record\n"
    assert subset["metric"] == "queries_total"
    assert list(subset["queries"]) == ["q_exact_dedup"]

    bench.main([])
    line = capsys.readouterr().out
    record = json.loads(line)
    assert mirror.read_text() == line
    assert set(record) == {"metric", "value", "unit", "queries", "sf",
                           "first_run_total", "calibration_sec"}
    assert record["metric"] == "headline_total"
    assert list(record["queries"]) == headline
    assert record["sf"] == 0.001
