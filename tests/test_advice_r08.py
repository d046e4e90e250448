"""Round-8 regression pins for the r07 ADVICE findings.

1. q_url_canonical re-verification: the operator's default changed in
   r07 (bare ``ref`` kept), so it must sit in the r08 driver window —
   the changed-operator re-verification rule is pinned structurally.
2. examples/streaming_ingest_job drains availableNow backlogs to
   completion: ``awaitTermination()`` with NO timeout (a timeout lets a
   large backlog exit "successfully" mid-drain and teardown can then
   kill the query mid-epoch).
3. Matrix.scale_by enforces its at-most-one-row scalar contract — a
   multi-row "scalar" raises instead of silently cross-joining into a
   corrupt COO with duplicate coordinates.
4. Internal working columns never collide with user frames:
   semantic_decontaminate and stream_ingest_semantic derive fresh names
   when ``__vecn``/``__bvecs``/``__barr`` are taken, and all three
   ingest tiers reject an input that already carries the reserved
   ``__batch`` partition column.
"""

import ast
import inspect

import pytest
from pyspark.sql import functions as F


# --- 1. changed-operator re-verification in the window -----------------------

def test_url_canonical_reverified_after_r07_semantics_change():
    """Durable form of the pin: canonicalize_url's default changed in
    r07, so q_url_canonical must either sit in the CURRENT window or
    already hold a post-change (r08+) driver row. The original r08-only
    window-membership assert was satisfied by CORRECTNESS_r08 (hash
    green) and then correctly rotated out in r09."""
    import json
    import os

    import __spark_entry__ as e
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for r in range(8, 30):
        fp = os.path.join(here, f"CORRECTNESS_r{r:02d}.json")
        if not os.path.exists(fp):
            continue
        row = json.load(open(fp)).get("q_url_canonical")
        if row and row.get("hash_match"):
            return  # re-verified post-change
    names = list(e.queries())
    assert "q_url_canonical" in names[:50], (
        "canonicalize_url's default changed in r07 after its last driver "
        "row and no post-change driver row exists yet; q_url_canonical "
        "must be re-verified in the current window")


# --- 2. availableNow drains fully --------------------------------------------

def test_ingest_job_awaits_termination_without_timeout():
    from examples.streaming_ingest_job import StreamingIngestJob
    src = inspect.getsource(StreamingIngestJob.build)
    calls = [n for n in ast.walk(ast.parse(src.lstrip()))
             if isinstance(n, ast.Call)
             and isinstance(n.func, ast.Attribute)
             and n.func.attr == "awaitTermination"]
    assert calls, "example no longer awaits the query?"
    for c in calls:
        assert not c.args and not c.keywords, (
            "awaitTermination must take no timeout: availableNow returns "
            "exactly when drained; a timeout truncates large backlogs")


# --- 3. scale_by multi-row scalar raises --------------------------------------

def test_scale_by_rejects_multi_row_scalar(spark):
    from scalding_spark.matrix import Matrix
    m = Matrix(spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 3.0)], "row long, col long, val double"))
    two_rows = spark.createDataFrame([(2.0,), (3.0,)], "s double")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException
    with pytest.raises((Py4JJavaError, PySparkException), match="one row"):
        m.scale_by(two_rows).df.collect()


def test_scale_by_single_and_empty_scalar_still_work(spark):
    from scalding_spark.matrix import Matrix
    m = Matrix(spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 3.0)], "row long, col long, val double"))
    one = spark.createDataFrame([(10.0,)], "s double")
    got = {(r.row, r.col): r.val for r in m.scale_by(one).df.collect()}
    assert got == {(1, 1): 20.0, (1, 2): 30.0}
    empty = spark.createDataFrame([], "s double")
    assert m.scale_by(empty).df.count() == 0


# --- 4. internal-name collisions ----------------------------------------------

def test_semantic_decontaminate_survives_colliding_columns(spark):
    """A corpus already carrying __vecn/__bvecs columns must still
    decontaminate correctly (and keep its own columns untouched)."""
    from scalding_spark.functions.similarity import semantic_decontaminate
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], "keep-me", "user-vecn"),
         (2, [0.0, 1.0], "leaked", "user-vecn2")],
        "vec_id long, embedding array<double>, __bvecs string, __vecn string")
    bench = spark.createDataFrame(
        [([0.0, 1.0],)], "embedding array<double>")
    out = semantic_decontaminate(corpus, bench, threshold=0.95)
    rows = out.collect()
    assert [r.vec_id for r in rows] == [1]
    assert set(out.columns) == {"vec_id", "embedding", "__bvecs", "__vecn"}
    assert rows[0]["__vecn"] == "user-vecn"
    assert rows[0]["__bvecs"] == "keep-me"


def test_stream_ingest_semantic_survives_colliding_columns(spark, tmp_path):
    from scalding_spark import streaming
    src = str(tmp_path / "src")
    schema = ("vec_id long, embedding array<double>, "
              "__vecn string, __barr string")
    spark.createDataFrame(
        [(1, [1.0, 0.0], "a", "b"), (2, [0.99, 0.05], "c", "d"),
         (3, [0.0, 1.0], "e", "f")],
        schema).write.mode("append").parquet(src)
    q = streaming.stream_ingest_semantic(
        streaming.stream_from_parquet_dir(spark, src, schema),
        corpus_path=str(tmp_path / "corpus"),
        store_path=str(tmp_path / "store"),
        checkpoint=str(tmp_path / "ckpt"), threshold=0.95)
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "corpus"))
    assert sorted(r.vec_id for r in out.collect()) == [1, 3]
    kept = {r.vec_id: r for r in out.collect()}
    assert kept[1]["__vecn"] == "a"
    assert kept[1]["__barr"] == "b"


@pytest.mark.parametrize("tier,schema,rows", [
    ("stream_ingest_dedup", "doc_id long, text string, __batch string",
     [(1, "x", "t")]),
    ("stream_ingest_neardup", "doc_id long, text string, __batch string",
     [(1, "x", "t")]),
    ("stream_ingest_semantic",
     "vec_id long, embedding array<double>, __batch string",
     [(1, [1.0], "t")]),
    ("stream_ingest_phash", "media_id long, content binary, __batch string",
     [(1, b"x", "t")]),
])
def test_ingest_tiers_reject_reserved_batch_column(spark, tmp_path, tier,
                                                   schema, rows):
    from scalding_spark import streaming
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, schema)
    kw = dict(corpus_path=str(tmp_path / "c"), store_path=str(tmp_path / "s"),
              checkpoint=str(tmp_path / "k"))
    if tier in ("stream_ingest_dedup", "stream_ingest_neardup"):
        kw.update(text_col="text", id_col="doc_id")
    with pytest.raises(ValueError, match="__batch.*reserved"):
        getattr(streaming, tier)(stream, **kw)
