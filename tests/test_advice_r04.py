"""Round-4 regression pins for the r03 ADVICE findings.

1. fold zero typing: a fractional zero over an integral column must promote
   to double, not truncate (grouping._aligned_zero / typed.fold_left).
2. epoch replay, every stream_ingest_* tier: a replayed epoch must NOT
   read its own partially-committed store partition, or the dynamic
   overwrite permanently loses those docs.
3. counters(): non-blocking timeout probe, per-session scoping, clear.
4. materialize(): strategy dispatch (local/persist/reliable) returns the
   same rows; invalid mode fails loudly.
"""

import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from scalding_spark import streaming
from scalding_spark.grouping import GroupBuilder
from scalding_spark.pipe import Pipe, clear_counters, counters
from scalding_spark.session import (MATERIALIZE_CONF, materialize,
                                    release_materialized)
from scalding_spark.typed import TypedPipe


# --- 1. fold zero typing -----------------------------------------------------

def test_groupbuilder_fold_float_zero_over_bigint_stays_fractional(spark):
    df = spark.createDataFrame([(1, 10), (1, 20)], "k int, v long")
    out = (GroupBuilder(df, ["k"])
           .reduce("v", 0.5, lambda a, x: a + x, out="s").done()
           .df.collect())
    assert out[0]["s"] == pytest.approx(30.5)


def test_groupbuilder_fold_int_zero_over_bigint_still_works(spark):
    df = spark.createDataFrame([(1, 10), (1, 20)], "k int, v long")
    out = (GroupBuilder(df, ["k"])
           .reduce("v", 0, lambda a, x: a + x, out="s").done()
           .df.collect())
    assert out[0]["s"] == 30


def test_typed_fold_left_float_zero_over_bigint_stays_fractional(spark):
    tp = TypedPipe.from_iterable(spark, [10, 20], "long")
    g = tp.group_by(lambda v: F.lit(1))
    rows = g.fold_left(0.5, lambda a, x: a + x).collect()
    vals = [r[-1] for r in rows]
    assert vals == [pytest.approx(30.5)]


def test_groupbuilder_fold_string_zero_unchanged(spark):
    df = spark.createDataFrame([(1, 10), (1, 20)], "k int, v long")
    out = (GroupBuilder(df, ["k"])
           .reduce("v", "", lambda a, x: F.concat(a, x.cast("string")),
                   out="s", sort=True).done()
           .df.collect())
    assert out[0]["s"] == "1020"


# --- 2. epoch-replay hole ----------------------------------------------------

_NEAR_BASE = ("the quick brown fox jumps over the lazy dog while seven "
              "wizards quietly brew hex elixirs beneath the old bridge")
_NEAR_OTHER = ("completely different text about spark plans catalyst "
               "tungsten and arrow batches flowing")


def _p5img(seed):
    import random
    rng = random.Random(seed)
    return b"P5\n16 16\n255\n" + bytes(rng.randrange(256) for _ in range(256))


# tier -> (schema, two rows no tier may drop, tier kwargs)
REPLAY_CASES = {
    "dedup": ("doc_id long, text string",
              [(0, "alpha beta"), (1, "gamma delta")],
              dict(text_col="text", id_col="doc_id")),
    "neardup": ("doc_id long, text string",
                [(0, _NEAR_BASE), (1, _NEAR_OTHER)],
                dict(text_col="text", id_col="doc_id")),
    "phash": ("media_id long, content binary",
              [(0, _p5img(1)), (1, _p5img(2))],
              dict(content_col="content", id_col="media_id")),
    "semantic": ("vec_id long, embedding array<double>",
                 [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                 dict(vec_col="embedding", id_col="vec_id")),
}


@pytest.mark.parametrize("tier", list(REPLAY_CASES))
def test_stream_ingest_replay_skips_own_epoch_partition(spark, tmp_path, tier):
    """Simulate a crash between the store write and the checkpoint commit:
    the store already holds THIS epoch's partition when the epoch replays.
    The replayed epoch must not see its own docs as duplicates (which would
    drop them from corpus AND store via the dynamic overwrite). The
    pre-committed partition is the tier's own epoch-0 store write, made
    under another checkpoint and moved into this checkpoint's namespace."""
    schema, rows, kw = REPLAY_CASES[tier]
    ingest = getattr(streaming, f"stream_ingest_{tier}")
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.parquet(src)

    def run(root):
        q = ingest(streaming.stream_from_parquet_dir(spark, src, schema),
                   corpus_path=str(root / "corpus"),
                   store_path=str(root / "store"),
                   checkpoint=str(root / "ckpt"), **kw)
        q.awaitTermination(120)

    def epoch0(root):
        return hashlib.md5(str(root / "ckpt").encode()).hexdigest()[:12] + "-0"

    pre, store = tmp_path / "pre", str(tmp_path / "store")
    run(pre)
    # pre-commit the store partition the FIRST epoch (epoch_id=0) will own
    shutil.copytree(str(pre / "store" / f"__batch={epoch0(pre)}"),
                    os.path.join(store, f"__batch={epoch0(tmp_path)}"))
    assert spark.read.parquet(store).count() == len(rows)
    run(tmp_path)
    got = sorted(r[kw["id_col"]] for r in
                 spark.read.parquet(str(tmp_path / "corpus")).collect())
    assert got == [0, 1], f"replayed epoch lost docs: corpus={got}"
    # the store partition was rewritten, not duplicated
    assert spark.read.parquet(store).where(
        F.col("__batch") == epoch0(tmp_path)).count() == len(rows)


# --- 3. counters() timeout / scoping ----------------------------------------

def test_counters_timeout_probe_then_value(spark):
    p = Pipe.from_iterable(spark, [(i,) for i in range(10)], "id long")
    staged = p.observe("adv_t", n=F.count(F.lit(1)))
    with pytest.raises(TimeoutError):
        counters("adv_t", timeout=0)
    staged.df.count()
    assert counters("adv_t", timeout=5) == {"n": 10}
    assert counters("adv_t") == {"n": 10}  # blocking read after action


def test_counters_unknown_name_and_clear(spark):
    with pytest.raises(KeyError):
        counters("adv_never_registered", timeout=0)
    p = Pipe.from_iterable(spark, [(1,)], "id long")
    p.observe("adv_clear", n=F.count(F.lit(1))).df.count()
    assert counters("adv_clear")["n"] == 1
    clear_counters(spark)
    with pytest.raises(KeyError):
        counters("adv_clear", timeout=0)


# --- 4. materialize strategy dispatch ----------------------------------------

def test_materialize_modes_same_rows(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    expect = sorted((r.id, r.v) for r in df.collect())
    assert sorted((r.id, r.v) for r in materialize(df).collect()) == expect
    spark.conf.set(MATERIALIZE_CONF, "persist")
    try:
        out = materialize(df, eager=True)
        assert sorted((r.id, r.v) for r in out.collect()) == expect
        out.unpersist()
        spark.conf.set(MATERIALIZE_CONF, "reliable")
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        assert sorted((r.id, r.v)
                      for r in materialize(df, eager=True).collect()) == expect
        spark.conf.set(MATERIALIZE_CONF, "bogus")
        with pytest.raises(ValueError):
            materialize(df)
    finally:
        spark.conf.unset(MATERIALIZE_CONF)


def test_materialize_persist_mode_end_to_end_lm(spark, sf_dir):
    """A real operator (unigram_lm) must give identical results under the
    recoverable persist strategy."""
    from scalding_spark.functions.lm import unigram_lm_score
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = sorted(map(tuple, unigram_lm_score(
        docs, "text", "doc_id", term_decimals=6).collect()))
    spark.conf.set(MATERIALIZE_CONF, "persist")
    try:
        got = sorted(map(tuple, unigram_lm_score(
            docs, "text", "doc_id", term_decimals=6).collect()))
    finally:
        spark.conf.unset(MATERIALIZE_CONF)
        # the operator persisted an INTERNAL subtree the caller never sees;
        # without releasing it, Spark's cache manager substitutes the leaked
        # InMemoryRelation into later matching plans (r04 regression: broke
        # test_plans' HashAggregate count thousands of tests later)
        release_materialized(spark)
    assert got == base
