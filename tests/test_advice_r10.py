"""Round-10 regression pins for the r09 ADVICE findings.

1. (high) _cohens_kappa_by must report EVERY judged slice — including a
   slice whose two raters share no categories (Σ aₖbₖ has no terms →
   p_e = 0, κ = p_o): the marginal-product table is built with an inner
   am×bm join on category equality, so such a slice has no product row,
   and the old inner final join silently dropped it. Fixed with a LEFT
   join + coalesce(__pab, 0), mirroring the global form.
2. (low) the kappa identity's products (n², n·agree, Σ aₖbₖ) and the
   ROC/PR rank products now run in DECIMAL(38,0): the BIGINT forms
   silently wrapped past 2⁶³ (n ≈ 3.04e9 judged rows for n² — reachable
   at 100 TB). Pinned with synthetic pre-aggregated counts whose
   products exceed 2⁶³ (never constructible from real test rows),
   compared bit-for-bit against the Python big-int mirror.
3. (low) compact_store's bucketed path must respect the file-count
   target PER BUCKET: repartition(n, '__bucket') hashed only on the
   bucket value, collapsing each bucket into ONE task/file regardless
   of rows_per_file (≤16 buckets → ≤16 write tasks at any store size).
   Fixed by salting the repartition key with ceil(bucket_rows /
   rows_per_file) slots per bucket.
4. (low) the r09 window-ledger comment misstated the displacement
   arithmetic ('first 38 of 49; the 11 displaced' for a 37/12 split);
   the r10 rotation rewrote the header — pinned here as a grep that the
   stale wording is gone.
"""

import pytest
from pyspark.sql import functions as F

from scalding_spark.functions import evaluation as ev


# --- 1. disjoint-category slices must report --------------------------------

def test_kappa_by_reports_disjoint_category_slice(spark):
    """The exact ADVICE repro: g1's raters never use a common category
    (a: {x}, b: {y}) → Σ aₖbₖ = 0, p_e = 0, κ = p_o = 0.0 — one row,
    not a silent drop."""
    df = spark.createDataFrame(
        [("g0", "x", "x"), ("g0", "x", "y"), ("g1", "x", "y")],
        "g string, a string, b string")
    rows = {r["g"]: r for r in
            ev.cohens_kappa(df, "a", "b", by=["g"]).collect()}
    assert set(rows) == {"g0", "g1"}, "every judged slice reports"
    g1 = rows["g1"]
    assert g1["n"] == 1 and g1["po"] == 0.0 and g1["pe"] == 0.0
    assert g1["kappa"] == 0.0  # (n·agree − 0)/(n² − 0) = 0/1
    # and the shared-category slice still matches the global form on g0
    g0 = rows["g0"]
    glob = ev.cohens_kappa(df.where(F.col("g") == "g0"), "a", "b").first()
    assert (g0["n"], g0["po"], g0["pe"], g0["kappa"]) == \
        (glob["n"], glob["po"], glob["pe"], glob["kappa"])


def test_kappa_by_all_slices_disjoint(spark):
    """Degenerate corpus where NO slice has a common category: the
    product table is entirely empty and every slice must still report
    (the old code returned 0 rows)."""
    df = spark.createDataFrame(
        [("g0", "x", "y"), ("g1", "p", "q"), ("g1", "p", "r")],
        "g string, a string, b string")
    out = ev.cohens_kappa(df, "a", "b", by=["g"]).collect()
    assert {r["g"]: r["n"] for r in out} == {"g0": 1, "g1": 2}
    assert all(r["pe"] == 0.0 and r["kappa"] == r["po"] for r in out)


# --- 2. wide-decimal identities: wrap-free past 2⁶³ --------------------------

def test_kappa_identity_wide_products_bit_match_python(spark):
    """Pre-aggregated counts with n² ≈ 2.5e19 > 2⁶³ (BIGINT would wrap):
    the DECIMAL(38,0) identity must equal the Python big-int mirror
    bit-for-bit (each metric is float(num)/float(den) — cast each exact
    integer to double, one division; Python's float(int) uses the same
    round-to-nearest as Spark's Decimal.toDouble)."""
    n, agree = 5_000_000_000, 4_999_999_987
    ak_bk = [(3_000_000_000, 2_000_000_000), (2_000_000_000, 3_000_000_000)]
    pab = sum(a * b for a, b in ak_bk)  # 1.2e19 > 2⁶³
    assert n * n > 2**63 and pab > 2**63, "the test must exceed BIGINT"
    d = (spark.createDataFrame([(n, agree)], "n long, agree long")
         .withColumn("pab", sum((F.lit(a).cast(ev._D19)
                                 * F.lit(b).cast(ev._D19)
                                 for a, b in ak_bk), F.lit(0).cast(ev._DEC0)))
         .select(*ev._kappa_cols(F.col("n"), F.col("agree"), F.col("pab"))))
    row = d.first()
    assert row["po"] == float(agree) / float(n)
    assert row["pe"] == float(pab) / float(n * n)
    assert row["kappa"] == float(n * agree - pab) / float(n * n - pab)


def test_ap_term_wide_product_bit_match_python(spark):
    """A tie class with np·TP = 1.2e19 > 2⁶³: the AP term must be the
    Python mirror float(np·cpt)/float(cnt) tie-rounded to DECIMAL(27,9)
    — the BIGINT product wrapped to a negative term here."""
    from decimal import Decimal, ROUND_HALF_UP
    np_, cpt, cnt = 3_000_000_000, 4_000_000_000, 6_000_000_000
    assert np_ * cpt > 2**63
    d = (spark.createDataFrame([(np_, cpt, cnt)],
                               "np long, cpt long, cnt long")
         .select(ev._ap_term().alias("term")))
    got = d.first()["term"]
    want = Decimal(repr(float(np_ * cpt) / float(cnt))).quantize(
        Decimal("1.000000000"), rounding=ROUND_HALF_UP)
    assert got == want


def test_roc_rank_products_run_in_decimal():
    """Source pin: every product in roc_auc/_roc_auc_by's rank identity
    (s2 terms, KS numerator, final denominators) must pass through
    _wide — a bare BIGINT product wraps at ~3e9 judged rows."""
    import inspect
    for fn in (ev.roc_auc, ev._roc_auc_by):
        src = inspect.getsource(fn)
        assert "_wide" in src, f"{fn.__name__} lost the wide-decimal path"
        assert "np * (2" not in src.replace("F.col", ""), \
            f"{fn.__name__} has a raw BIGINT rank product"


def test_roc_rank_term_wide_bit_match_python(spark):
    """The s2 term np·(2·cb+n+1) at 1.4e19 > 2⁶³, built exactly as
    roc_auc builds it, equals the Python big-int mirror."""
    np_, cb, n = 2_000_000_000, 3_500_000_000, 100
    want = np_ * (2 * cb + n + 1)
    assert want > 2**63
    d = (spark.createDataFrame([(np_, cb, n)], "np long, cb long, n long")
         .select((ev._wide(F.col("np"))
                  * ev._wide(2 * F.col("cb") + F.col("n") + 1))
                 .alias("t")))
    assert int(d.first()["t"]) == want


# --- 3. grouped AUC/PR: no slice-sized window task ---------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_grouped_auc_windows_partition_by_pid_not_slice(spark):
    """VERDICT r09 #3: the grouped forms must use the (slice, score)
    range-partition prefix-offset pattern — the data-sized cumulative
    window partitions by (__pid, slice), never by the slice alone, so a
    dominant slice's distinct-score table never funnels through one
    task. The only slice-keyed-without-pid window left is the offsets
    table (per-slice #partitions rows, bounded)."""
    df = spark.range(2000).select(
        (F.col("id") % 7).cast("string").alias("lang"),
        (F.rand(42)).alias("s"),
        (F.col("id") % 3 == 0).cast("int").alias("y"))
    for out in (ev.roc_auc(df, "s", "y", by=["lang"]),
                ev.pr_auc(df, "s", "y", by=["lang"])):
        p = _plan(out)
        assert "rangepartitioning" in p.lower(), \
            "grouped cumulatives must range-partition on (slice, score)"
        data_windows = [ln for ln in p.splitlines()
                        if "windowspecdefinition" in ln and "__lpt" in ln]
        assert data_windows, "cumulative window missing from plan"
        assert all("__pid" in ln for ln in data_windows), \
            "a cumulative window is partitioned by the slice alone"


def test_grouped_auc_skewed_slice_matches_per_slice_global(spark):
    """Behavior under the new machinery: one dominant slice (90% of
    rows, all-distinct scores) + tiny slices + a NULL slice key — every
    per-slice row must equal running the GLOBAL form on that slice
    alone."""
    rows = [("big", i * 7 % 1800, 1 if i % 3 == 0 else 0)
            for i in range(1800)]
    rows += [("tiny", i, i % 2) for i in range(100)]
    rows += [(None, i, 1 if i < 50 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "lang string, s int, y int")
    by = {tuple(r[k] for k in ("lang",)): r
          for r in ev.roc_auc(df, "s", "y", by=["lang"]).collect()}
    assert set(by) == {("big",), ("tiny",), (None,)}
    for key, r in by.items():
        cond = F.col("lang").eqNullSafe(F.lit(key[0]))
        g = ev.roc_auc(df.where(cond), "s", "y").first()
        assert (r["n_pos"], r["n_neg"], r["auc"], r["ks"]) == \
            (g["n_pos"], g["n_neg"], g["auc"], g["ks"]), key
    by_pr = {r["lang"]: r
             for r in ev.pr_auc(df, "s", "y", by=["lang"]).collect()}
    for key, r in by_pr.items():
        cond = F.col("lang").eqNullSafe(F.lit(key))
        g = ev.pr_auc(df.where(cond), "s", "y").first()
        assert (r["n_pos"], r["n_neg"], r["pr_auc"]) == \
            (g["n_pos"], g["n_neg"], g["pr_auc"]), key


# --- 4. ledger comment wording -----------------------------------------------

def test_r09_ledger_comment_arithmetic_corrected():
    """ADVICE r09 #4: the stale 'first 38 of 49' / 'the 11 displaced'
    wording must not survive in the registry ledger."""
    import os
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "__spark_entry__.py")
    with open(path, encoding="utf-8") as f:
        text = f.read()
    assert "first 38 of 49" not in text


# --- r10 changed-operator re-verification (DURABLE pin form) -----------------

def test_r10_changed_operators_reverified_or_in_window():
    """Every operator whose semantics or plan changed in r10 (plus the
    new image tier) must be re-verified by the driver: a green
    CORRECTNESS row from round >= 10 (value match, or a clean rows-only
    run for a query with no SQL oracle), OR a seat in the current 50-entry
    window (the durable form — window membership alone would break when
    a later rotation correctly moves a re-verified query out)."""
    import json
    import os

    import __spark_entry__ as e

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    changed = ["q_image_neardup", "q_cohens_kappa", "q_pr_auc",
               "q_pr_auc_by_slice", "q_auc_by_slice", "q_quality_auc",
               "q_dedup_clusters", "q_cc_star", "q_simhash_pairs",
               "q_calibration_by_slice", "q_sweep_by_slice"]
    green_since_10 = set()
    for fn in os.listdir(here):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            rnd = int(fn[len("CORRECTNESS_r"):-len(".json")])
            if rnd < 10:
                continue
            data = json.load(open(os.path.join(here, fn)))
            for k, v in data.items():
                # green = value-verified, or the rows-only contract of a
                # query with no SQL oracle ran clean
                if (v.get("rows_match") and v.get("err") is None) or (
                        v.get("err") == "no_oracle"
                        and v.get("spark_rows") is not None):
                    green_since_10.add(k)
    window = set(list(e.queries())[:50])
    missing = [q for q in changed
               if q not in green_since_10 and q not in window]
    assert not missing, (
        f"r10-changed operators with no round>=10 green row and no "
        f"window seat: {missing}")


# --- 2b. hypothesis: wide-decimal identities across the >2⁵³ space -----------

def test_kappa_identity_hypothesis_big_counts(spark):
    """VERDICT r09 #4's Done-condition: hypothesis-generated
    pre-aggregated counts with products beyond 2⁵³ (and mostly beyond
    2⁶³) must match the Python big-int mirror bit-for-bit — or the
    decimal must NULL loudly, never wrap."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=10, deadline=None)
    @given(n=st.integers(min_value=2**31, max_value=2**62),
           agree_frac=st.integers(min_value=0, max_value=1000),
           pab_frac=st.integers(min_value=0, max_value=1000))
    def check(n, agree_frac, pab_frac):
        agree = n * agree_frac // 1000
        pab = (n * n) * pab_frac // 1000
        d = (spark.createDataFrame([(n, agree)], "n long, agree long")
             .withColumn("pab", F.expr(f"cast('{pab}' as decimal(38,0))"))
             .select(*ev._kappa_cols(F.col("n"), F.col("agree"),
                                     F.col("pab"))))
        row = d.first()
        assert row["po"] == float(agree) / float(n)
        assert row["pe"] == float(pab) / float(n * n)
        if n * n - pab != 0:
            assert row["kappa"] == \
                float(n * agree - pab) / float(n * n - pab)
        else:
            assert row["kappa"] is None

    check()


def test_ap_term_hypothesis_big_counts(spark):
    from decimal import Decimal, ROUND_HALF_UP

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=10, deadline=None)
    @given(np_=st.integers(min_value=2**27, max_value=2**31),
           extra=st.integers(min_value=0, max_value=2**31),
           slack=st.integers(min_value=0, max_value=2**31))
    def check(np_, extra, slack):
        cpt = np_ + extra
        cnt = cpt + slack
        d = (spark.createDataFrame([(np_, cpt, cnt)],
                                   "np long, cpt long, cnt long")
             .select(ev._ap_term().alias("term")))
        got = d.first()["term"]
        want = Decimal(repr(float(np_ * cpt) / float(cnt))).quantize(
            Decimal("1.000000000"), rounding=ROUND_HALF_UP)
        assert got == want

    check()


# --- r10 self-review fixes (code-review pass over the round's diff) ----------

def test_hamming_budget_zero_is_exact_match_and_bounds_validate(spark):
    """max_hamming=0 must mean exact-hash banding (one whole-hash chunk
    — the old mask literal (1<<64)-1 overflowed BIGINT and raised an
    obscure literal error); out-of-range budgets must raise a clear
    ValueError from every entry point."""
    from scalding_spark.functions import dedup as dd
    from scalding_spark.functions import multimodal as mm
    hashes = spark.createDataFrame(
        [(1, 7), (2, 7), (3, -9223372036854775808), (4, 6)],
        "id long, h long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in dd.hamming_band_pairs(hashes, "id", "h", 0).collect()}
    assert got == {(1, 2): 0}, got  # only the exact pair; min-long safe
    for bad in (-1, 17):
        with pytest.raises(ValueError, match="max_hamming"):
            dd.hamming_chunk_cols("h", bad)
        with pytest.raises(ValueError, match="max_hamming"):
            mm_df = spark.createDataFrame([(0, None)],
                                          "media_id long, content binary")
            dd.hamming_band_pairs(hashes, "id", "h", bad)
    # the streaming tier validates at BUILDER time, not per-epoch
    from scalding_spark import streaming
    src = spark.createDataFrame([(0, b"P5\n1 1\n255\n\x00")],
                                "media_id long, content binary")
    import tempfile, os
    d = tempfile.mkdtemp()
    src.write.mode("overwrite").parquet(os.path.join(d, "s"))
    stream = streaming.stream_from_parquet_dir(
        spark, os.path.join(d, "s"), "media_id long, content binary")
    with pytest.raises(ValueError, match="max_hamming"):
        streaming.stream_ingest_phash(
            stream, corpus_path=os.path.join(d, "c"),
            store_path=os.path.join(d, "t"),
            checkpoint=os.path.join(d, "k"), max_hamming=17)


def test_threshold_sweep_rejects_duplicate_cutoffs(spark):
    """Duplicated thresholds double-counted every class through the
    explode+merge (and the empty branch disagreed, emitting one row per
    copy) — refused loudly now, in both forms."""
    df = spark.createDataFrame([(0.6, 1)], "s double, y int")
    with pytest.raises(ValueError, match="duplicate"):
        ev.threshold_sweep(df, "s", "y", [0.5, 0.5])
    with pytest.raises(ValueError, match="duplicate"):
        ev.threshold_sweep(df, "s", "y", [0.5, 0.5], by=["s"])


def test_in_stream_compaction_skips_busy_lease(spark, tmp_path):
    """A crashed run's still-young _COMPACT_LOCK must not wedge a
    restarted ingest: the in-stream hook treats CompactionBusy as
    skip-this-cycle (warning), the epoch itself succeeds, and a
    foreground call still refuses loudly."""
    import hashlib
    import warnings

    from scalding_spark import streaming
    src, corpus, store, ckpt = (str(tmp_path / p) for p in
                                ("src", "corpus", "store", "ckpt"))
    run_tag = hashlib.md5(ckpt.encode()).hexdigest()[:12]

    def epoch(rows):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.mode("append").parquet(src)
        q = streaming.stream_ingest_dedup(
            streaming.stream_from_parquet_dir(
                spark, src, "doc_id long, text string"),
            corpus_path=corpus, store_path=store, checkpoint=ckpt,
            text_col="text", id_col="doc_id", compact_every_n_epochs=2)
        q.awaitTermination(120)
        assert q.exception() is None

    epoch([(0, "aa"), (1, "bb")])
    epoch([(2, "cc")])
    epoch([(3, "dd")])
    # a crashed compaction's fresh lock sits on the store
    with open(f"{store}/_COMPACT_LOCK", "w") as f:
        f.write("1\n")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        epoch([(4, "ee"), (5, "aa")])  # epoch 3 → compaction cadence fires
    assert any("compaction skipped" in str(x.message) for x in w), \
        [str(x.message) for x in w]
    # the epoch itself succeeded: dedup kept working across the skip
    got = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    assert got == [0, 1, 2, 3, 4]
    # foreground call still refuses while the lease is live
    from scalding_spark.streaming._compact import CompactionBusy
    with pytest.raises(CompactionBusy):
        streaming.compact_store(spark, store)


def test_compaction_abort_carries_partial_ledger():
    """CompactionAborted.partial must exist (the abort protects later
    run_tags; earlier commits in the same call are already destructive
    and their ledger must not vanish with the exception)."""
    from scalding_spark.streaming._compact import CompactionAborted
    e = CompactionAborted("x", partial={"tag": {"rows": 1}})
    assert e.partial == {"tag": {"rows": 1}}
    assert isinstance(e, RuntimeError)
