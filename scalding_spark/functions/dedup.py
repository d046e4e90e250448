"""Deduplication operators for training-data pipelines, 100 TB-first.

Four tiers, in increasing recall for near-duplicates:

1. exact        — hash-groupBy on normalized content. One shuffle on a 64-bit
                  fingerprint (never the full text — shuffle bytes stay tiny).
2. ngram-Jaccard— exact set-similarity via shingle inverted index; prunes by
                  requiring a shared shingle, so no all-pairs blowup.
3. MinHash+LSH  — signature bands → bucket join → candidate pairs → exact
                  Jaccard verify. The scale path: cost ∝ documents + candidate
                  pairs, never O(n²).
4. SimHash      — 64-bit near-dup fingerprint, hamming-banded.

All but SimHash are pure Column expressions. Everything keys intermediate
shuffles on small fixed-width values (hashes / band ids), not text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from scalding_spark.session import _arrow_frame, materialize

from scalding_spark.functions.text import (normalize_for_fingerprint,
                                           shingles, tokenize)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact normalized content.

    Plan: fingerprint → window min over the fingerprint → filter. The window
    shuffles 8-byte keys; at 100 TB the exchange carries hashes + ids only
    (Catalyst prunes the text column until after the filter if it isn't
    selected downstream)."""
    # 128-bit fingerprint: at 1e10 docs a 64-bit hash has >90% probability of
    # some collision (birthday bound) — i.e. silently dropped distinct docs;
    # md5's 128 bits push that below 1e-18. Shuffle key is 32 bytes, still
    # tiny next to the text it replaces.
    fp = F.md5(normalize_for_fingerprint(F.col(text_col)))
    w = Window.partitionBy("__fp")
    return (df.withColumn("__fp", fp)
            .withColumn("__keep", F.min(id_col).over(w))
            .where(F.col(id_col) == F.col("__keep"))
            .drop("__fp", "__keep"))


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Duplicate-group summary: (representative id, n_dups) per content group
    with >1 member — the audit view of exact_dedup."""
    norm = normalize_for_fingerprint(F.col(text_col))
    return (df.select(norm.alias("__norm"), F.col(id_col))
            .groupBy("__norm")
            .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
            .where(F.col("n_dups") > 1)
            .select("rep_id", "n_dups"))


def dedup_against(new: DataFrame, seen: DataFrame, text_col: str,
                  seen_text_col: str | None = None) -> DataFrame:
    """Incremental dedup: drop rows of ``new`` whose exact normalized
    content already exists in ``seen`` — the per-crawl-increment shape of
    a continuously-growing corpus (dedup today's batch against the corpus
    without re-clustering everything).

    Plan: left-anti join on the 128-bit content fingerprint. Both sides
    shuffle (or broadcast, if the seen-fingerprint set is small) 32-byte
    md5 keys, never text; with the seen side maintained as a
    fingerprint-only table (e.g. via VersionedKeyValSource), the increment
    cost is O(|new| + |seen_fps|) regardless of corpus text size.

    Within-batch duplicates are NOT collapsed here (compose with
    :func:`exact_dedup` first if wanted) — one job, one responsibility.
    """
    fp_new = F.md5(normalize_for_fingerprint(F.col(text_col)))
    fp_seen = F.md5(normalize_for_fingerprint(
        F.col(seen_text_col or text_col)))
    seen_fps = seen.select(fp_seen.alias("__fp")).distinct()
    return (new.withColumn("__fp", fp_new)
            .join(seen_fps, on="__fp", how="left_anti")
            .drop("__fp"))


def dedup_against_fingerprints(new: DataFrame, seen_fps: DataFrame,
                               text_col: str,
                               fp_col: str = "fp",
                               use_bloom: bool = False,
                               bloom_fpp: float = 0.01) -> DataFrame:
    """:func:`dedup_against` when the corpus side is already a
    fingerprint-only table (the production shape for a continuously
    growing corpus: 32 bytes/doc retained, text discarded). Left-anti join
    of the batch's md5 fingerprints against ``seen_fps[fp_col]`` —
    increment cost is O(|batch| + |fingerprints|) however much text has
    accumulated.

    ``use_bloom=True`` routes through
    :func:`scalding_spark.functions.bloom.bloom_anti_join`: definitely-new
    fingerprints (the normal-case majority of a crawl increment) bypass the
    anti-join exchange via a broadcast Bloom filter — EXACT results, the
    shuffle shrinks to dups + ~``bloom_fpp`` false positives. Worth it once
    the seen set is too big to broadcast outright; at ~9.6 bits/key the
    filter is ~115 MB per 1e8 seen docs."""
    fp_new = F.md5(normalize_for_fingerprint(F.col(text_col)))
    seen = seen_fps.select(F.col(fp_col).alias("__fp")).distinct()
    tagged = new.withColumn("__fp", fp_new)
    if use_bloom:
        from scalding_spark.functions.bloom import bloom_anti_join
        return bloom_anti_join(tagged, seen, on="__fp",
                               fpp=bloom_fpp).drop("__fp")
    return tagged.join(seen, on="__fp", how="left_anti").drop("__fp")


def corpus_diff(old: DataFrame, new: DataFrame, key_col: str,
                text_col: str = "text") -> DataFrame:
    """Snapshot-to-snapshot corpus diff: one ``(key, status)`` row for
    every key in either snapshot — ``added`` (new only), ``removed``
    (old only), ``changed`` (same key, different content fingerprint),
    ``unchanged`` — the audit step of an incremental corpus refresh
    (what did this crawl/version actually change?). Each side must carry
    at most one row per key (it is a snapshot key).

    Content compares by the 32-byte md5 of the normalized text, never
    the text itself, so the full-outer join exchanges ``(key, fp)``
    pairs, not documents; two NULL-text rows compare equal
    (``eqNullSafe``), and presence is tracked by a marker column so a
    NULL fingerprint is never mistaken for an absent row. 100 TB shape:
    one hash join on ``key_col`` — with both snapshots stored
    key-bucketed (``sources/bucketed.py``) the exchange disappears."""
    fp = F.md5(normalize_for_fingerprint(F.col(text_col)))
    o = old.select(F.col(key_col), fp.alias("__fp_old"),
                   F.lit(True).alias("__in_old"))
    n = new.select(F.col(key_col), fp.alias("__fp_new"),
                   F.lit(True).alias("__in_new"))
    status = (F.when(F.col("__in_old").isNull(), "added")
              .when(F.col("__in_new").isNull(), "removed")
              .when(F.col("__fp_old").eqNullSafe(F.col("__fp_new")),
                    "unchanged")
              .otherwise("changed"))
    return (o.join(n, on=key_col, how="full_outer")
            .select(key_col, status.alias("status")))


class FingerprintStore:
    """Bucketed fingerprint store for a continuously growing corpus — the
    100 TB shape of :func:`dedup_against_fingerprints`.

    A plain fingerprint table re-shuffles on EVERY increment (the anti
    join exchanges both sides); bucketing the store by its fingerprint
    once (``sources/bucketed.py`` machinery) makes every later anti join
    read the store pre-partitioned — only the new batch exchanges, sized
    to the increment, not the corpus. With the corpus at 1e10 docs and a
    daily increment of 1e7, that is the difference between shuffling
    320 GB and 320 MB per run (32-byte md5 keys).

    Usage::

        store = FingerprintStore(spark, "corpus_fps", n_buckets=256)
        if not store.exists():
            store.initialize(first_batch, "text")
        kept = store.dedup_new_batch(batch, "text")   # drops known dups
        store.append(kept, "text")                    # grow the store

    ``tests/test_bucketed.py`` pins the one-sided-exchange plan.
    """

    def __init__(self, spark, table: str, n_buckets: int = 256,
                 fp_col: str = "fp", path: str | None = None):
        """``path``: store the files at an explicit location (EXTERNAL
        bucketed table) instead of the session warehouse dir — bucketing
        metadata still lives in the catalog either way."""
        self.spark = spark
        self.table = table
        self.n_buckets = n_buckets
        self.fp_col = fp_col
        self.path = path

    def _fps_of(self, df: DataFrame, text_col: str) -> DataFrame:
        # One bucket-ALIGNED exchange (r12, guide §6): repartition(n, fp)
        # is the same murmur3-pmod placement the bucketed write uses, so
        # every task holds exactly one bucket → one file per bucket per
        # write, where the old plain .distinct() exchanged to
        # shuffle.partitions tasks and each wrote up to n_buckets bucket
        # files (tasks × buckets small files per append — the small-file
        # tax compounds on a store appended to daily). The dedup rides
        # the same exchange: hashpartitioning(fp) satisfies the
        # aggregate's clustered distribution.
        return (df.select(
            F.md5(normalize_for_fingerprint(F.col(text_col)))
            .alias(self.fp_col))
            .repartition(self.n_buckets, self.fp_col)
            .dropDuplicates([self.fp_col]))

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def _writer(self, df: DataFrame, mode: str):
        w = (df.write.mode(mode).format("parquet")
             .bucketBy(self.n_buckets, self.fp_col))
        if self.path:
            w = w.option("path", self.path)
        return w

    def initialize(self, df: DataFrame, text_col: str) -> None:
        """Create the store from a first batch (bucketed by fingerprint)."""
        self._writer(self._fps_of(df, text_col),
                     "overwrite").saveAsTable(self.table)

    def append(self, df: DataFrame, text_col: str) -> None:
        """Append a batch's fingerprints (same bucket spec — appends land
        in their buckets, the pre-partitioning survives). Caller contract:
        append only the KEPT rows of a deduped batch, or store-side
        duplicates accumulate (they stay correct — the anti join semantics
        don't change — but waste store bytes)."""
        self._writer(self._fps_of(df, text_col),
                     "append").saveAsTable(self.table)

    def fps(self) -> DataFrame:
        return self.spark.table(self.table)

    def dedup_new_batch(self, new: DataFrame, text_col: str) -> DataFrame:
        """Drop rows of ``new`` whose content fingerprint is in the store.
        The store side arrives bucket-partitioned (no exchange); only the
        batch shuffles."""
        # collision-safe tag name (the batch may legitimately carry a
        # column named fp_col — don't overwrite-and-drop the caller's data)
        tag = "__fp_store_key"
        if tag in new.columns:
            raise ValueError(f"batch already has a {tag!r} column")
        fp_new = F.md5(normalize_for_fingerprint(F.col(text_col)))
        tagged = new.withColumn(tag, fp_new)
        seen = self.fps().select(F.col(self.fp_col).alias(tag))
        return tagged.join(seen, on=tag, how="left_anti").drop(tag)


def remove_duplicate_lines(df: DataFrame, text_col: str, id_col: str,
                           scope: str = "corpus",
                           delimiter: str = "\n") -> DataFrame:
    """Line-level exact dedup REWRITING documents (RefinedWeb/Gopher-style
    cleanup): every line keeps only its FIRST occurrence — corpus-wide
    (``scope='corpus'``: first by (doc, position) order, so boilerplate
    headers/footers survive in exactly one document) or within each doc
    (``scope='doc'``: repeated lines collapse per document).

    Plan: posexplode lines → md5 line fingerprint → one window over the
    fingerprint (8+32-byte shuffle keys; line text rides only to be
    reassembled) → rank 1 keeps the first (doc, pos) → re-assemble via
    sorted collect_list per doc. Documents whose every line was seen
    elsewhere come back as empty strings (kept, so the output stays
    1:1 with the input ids).

    The collect_list bound is per-document line count — the same bounded-
    group contract as reduce/map_list (documents are bounded; corpora are
    not).
    """
    if scope not in ("corpus", "doc"):
        raise ValueError(f"scope must be 'corpus' or 'doc', got {scope!r}")
    # \Q...\E: Java Pattern.quote — F.split takes a REGEX but the
    # delimiter contract here is a LITERAL (it is re-joined verbatim
    # below; an unquoted '.' or '|' would shred every document)
    lines = (df.select(F.col(id_col).alias("__id"),
                       F.posexplode(F.split(F.col(text_col),
                                            "\\Q" + delimiter + "\\E"))
                       .alias("__pos", "__line"))
             .withColumn("__fp", F.md5(F.col("__line"))))
    keys = ["__fp"] if scope == "corpus" else ["__id", "__fp"]
    w = Window.partitionBy(*keys).orderBy("__id", "__pos")
    kept = (lines.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1))
    rebuilt = (kept.groupBy("__id")
               .agg(F.array_join(
                   F.array_sort(F.collect_list(F.struct("__pos", "__line")))
                   .getField("__line"), delimiter).alias(text_col)))
    return (df.select(F.col(id_col).alias("__id"))
            .join(rebuilt, on="__id", how="left")
            .select(F.col("__id").alias(id_col),
                    F.coalesce(F.col(text_col), F.lit("")).alias(text_col)))


# Stage-2 auto-decision threshold for ngram_jaccard_pairs: take doc-space
# while the estimated candidate multiplication factor Σm²/n stays under
# this. r12 calibration bracket: 25 → doc-space 2.05× faster, 250 →
# parity, unbounded beyond (see the docstring's measured table).
_DOC_SPACE_BLOWUP_FACTOR = 100.0


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.8,
                        max_doc_freq: int | None = 1000,
                        persist_index: bool = True,
                        space: str = "auto",
                        organic_ratio: float = 0.98) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via an inverted shingle index.

    Plan: explode distinct shingles → self-join on shingle (the inverted
    index: only docs sharing ≥1 shingle ever meet) → count shared shingles →
    jaccard = shared / (|A| + |B| - shared). Returns (id_a, id_b, jaccard)
    with id_a < id_b.

    Scale: the self-join key is a shingle hash (8 bytes); hot shingles are
    the skew risk — AQE skew-join splits them, and ``max_doc_freq`` drops
    shingles appearing in more than that many documents from the index
    (stop-shingle pruning). A shingle in d docs generates d² candidate pairs,
    so one boilerplate sentence across 1e6 docs would alone produce 1e12
    pairs — an algorithmic blowup no skew-split can absorb, which is why the
    cap now DEFAULTS on (1000: ≤1e6 candidate pairs per stop shingle).

    Recall contract under pruning: document sizes are computed BEFORE
    pruning, so reported Jaccard stays exact for any pair that shares at
    least one surviving shingle; pairs whose shared shingles are all pruned
    disappear entirely, and pairs sharing a mix score an under-estimate
    (shared counts exclude pruned shingles). Both errors are conservative —
    pruning can only LOWER a pair's score, never inflate it above
    ``threshold``. Pass ``max_doc_freq=None`` for exact semantics on corpora
    small enough that no shingle can blow up (e.g. oracle/test scale).

    ADAPTIVE pair generation (r12 — the r11 verdict's top item). Two
    physically different but OUTPUT-IDENTICAL plans exist:

    - ``space='doc'`` — the classic index over (doc, shingle) rows: one
      explode, two index exchanges (self-join sides), the candidate
      aggregate keyed on raw doc ids. Cheapest on ORGANIC corpora, but n
      byte-identical documents put n copies in every shingle bucket:
      n²·|shingles| candidate rows, an algorithmic blowup.
    - ``space='set'`` — the r11 distinct-shingle-set plan: documents are
      grouped by identical shingle set (md5 set-identity, confined to
      group formation; the hot-path key is ``gid`` = group-min id — the
      r11 wide-key finding, 2× on the quadratic stage), the index holds
      one row per (set, shingle), and same-set pairs come from an
      output-sized membership expansion. C(n,2)-proof, but on organic
      corpora (groups ≈ docs) the group-forming aggregate + membership
      window are pure overhead — a measured ~1.3× premium.

    ``space='auto'`` (default) decides in at most two cheap passes:

    1. One scalar aggregate over the tokenized frame (count,
       countDistinct(id), countDistinct(id,set), countDistinct(set)).
       Distinct sets ≥ ``organic_ratio`` of docs → doc-space (the common
       organic-corpus fast path: no md5-keyed exchange at all).
    2. Otherwise (duplicate-heavy) a group-size aggregate estimates the
       doc-space candidate multiplication factor Σm²/n (m = docs per
       identical set; a group of m duplicates multiplies every one of
       its shingles' index entries — and so candidate pairs — by ~m).
       Factor ≤ 100 still takes doc-space; above it, set-space.
       Calibrated r12 (sf0.1 + injected duplicate groups, warm min-of-2,
       identical outputs asserted): factor ≈25 (100 groups × 50 copies)
       → doc-space 2.05× FASTER (2.31 vs 4.74 s — group machinery is
       pure overhead on small-m groups); factor ≈250 (10 × 500) →
       parity (4.38 vs 4.30 s); beyond that set-space's bound wins and
       doc-space's downside is unbounded (C(n,2) candidate rows), so
       the threshold sits safely inside the measured bracket. Corpora
       with duplicate (id, text) ROWS always take set-space, which
       drops them per the documented contract.

    The decision jobs are driver-side scalar work over map-side-combined
    partial aggregates — they never collect data; the stage-2 exchange
    (33-byte md5 keys, no payloads) is paid only on corpora already
    known to be duplicate-heavy.

    Precondition (both spaces): doc ids are UNIQUE — an id appearing
    with two different texts would corrupt set-space's gid relabeling
    (two groups can collide on one min id) and double-count doc-space
    frequencies. ``space='auto'`` VALIDATES this (countDistinct(id) vs
    countDistinct(id, set)) and raises ``ValueError`` instead of
    returning corrupt pairs; explicit ``space=`` trusts the caller.

    ``persist_index`` caches the tokenized (id, shingle-set) frame —
    regex tokenization is the CPU cost center and every downstream
    consumer (the decision pass, both join sides, sizes, group
    formation) otherwise recomputes it — plus, in set-space, the per-set
    groups frame and the (id, set) membership map (the r11 rationale).
    MEMORY_AND_DISK spills gracefully."""
    if space not in ("auto", "doc", "set"):
        raise ValueError(f"space must be 'auto', 'doc' or 'set', got {space!r}")
    docs = (df.select(F.col(id_col).alias("id"),
                      shingles(F.col(text_col), n).alias("__shs"))
            .where(F.size("__shs") > 0))
    if persist_index:
        from pyspark import StorageLevel

        from scalding_spark.session import register_persisted
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        register_persisted(docs)  # internal persist — released via
        # session.release_materialized() (callers never see this handle)
    if space == "auto":
        # Stage 1: one pass, four scalar aggregates (partial-agg combined
        # map-side; the md5 set-identity is computed once per row inside
        # the job and never persisted). Cost at sf0.1: ~0.15 s; at 100 TB
        # it is one tokenization pass that the persisted index amortizes.
        gkey = F.md5(F.array_join(F.array_sort("__shs"), "\n"))
        st = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.col("id")).alias("di"),
            F.countDistinct(F.col("id"), gkey).alias("dg"),
            F.countDistinct(gkey).alias("g")).first()
        if st["dg"] > st["di"]:
            if persist_index:
                from scalding_spark.session import unregister_persisted
                unregister_persisted(docs)
            raise ValueError(
                "ngram_jaccard_pairs requires unique doc ids: "
                f"{st['dg'] - st['di']} id(s) appear with more than one "
                "distinct text (this would corrupt the group relabeling "
                "and double-count document frequencies)")
        if st["n"] == 0 or (st["n"] == st["dg"]
                            and st["g"] >= organic_ratio * st["n"]):
            space = "doc"
        elif st["n"] > st["dg"]:
            # duplicate (id, text) ROWS: only set-space's documented
            # drop-them contract applies
            space = "set"
        else:
            # Stage 2 (duplicate-heavy only): doc-space candidate
            # multiplication factor Σm²/n. Keys are bare 33-byte md5,
            # no payloads; hot groups collapse in the map-side combine.
            f = (docs.groupBy(gkey.alias("__g"))
                 .agg(F.count(F.lit(1)).alias("__m"))
                 .agg((F.sum(F.col("__m") * F.col("__m"))
                       / F.lit(float(max(st["n"], 1)))).alias("f"))
                 .first()["f"])
            space = "doc" if f <= _DOC_SPACE_BLOWUP_FACTOR else "set"
    if space == "doc":
        return _ngram_pairs_doc_space(docs, threshold, max_doc_freq)
    return _ngram_pairs_set_space(docs, threshold, max_doc_freq,
                                  persist_index)


def _ngram_pairs_doc_space(docs: DataFrame, threshold: float,
                           max_doc_freq: int | None) -> DataFrame:
    """Doc-space inverted index (the pre-r11 plan, re-instated for organic
    corpora where set-space's group machinery is pure overhead): explode
    per-doc shingles, window-prune stop shingles, self-join on shingle,
    count shared. Sizes come straight off the persisted tokenized frame
    (``F.size`` — map-only, unlike the pre-r11 groupBy over the index).
    Caller guarantees rows are distinct (id, set) units (the auto gate)."""
    sizes = docs.select("id", F.size("__shs").alias("sz"))
    sh = docs.select("id", F.explode("__shs").alias("sh"))
    if max_doc_freq is not None:
        # window count over sh, not groupBy+anti-join (r08 measurement:
        # the hot-set broadcast anti-join alternative was ~2× slower).
        # Each self-join side plans its OWN Exchange(sh) + Window over
        # the persisted index (no ReusedExchange — measured), but the
        # windowed output arrives hash-partitioned by sh so the join
        # adds no further shuffle: 2 index exchanges total.
        w = Window.partitionBy("sh")
        sh = (sh.withColumn("__df", F.count(F.lit(1)).over(w))
              .where(F.col("__df") <= max_doc_freq).drop("__df"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                     & (F.col("a.id") < F.col("b.id")))
              .groupBy(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("shared")))
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (shared.join(sz_a, "id_a").join(sz_b, "id_b")
            .withColumn("jaccard",
                        F.col("shared") / (F.col("sz_a") + F.col("sz_b")
                                           - F.col("shared")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def _ngram_pairs_set_space(docs: DataFrame, threshold: float,
                           max_doc_freq: int | None,
                           persist_index: bool) -> DataFrame:
    """Distinct-shingle-set-space index (r11): one index row per (set,
    shingle), so n byte-identical documents cost ONE entry per shingle —
    the doc-space worst blowup (n²·|shingles| candidate rows) collapses
    to the output-sized membership expansion. The pruning contract is
    preserved EXACTLY: the frequency window weights each set by its
    member count (``Σ __m`` = true document frequency), sizes stay
    unpruned, and same-set pairs score through the same pruned-survivors
    formula. Duplicate (id, text) input rows are dropped and the
    expansion never emits a self-pair. Hot-path key is ``gid`` = group
    min id (r11: 33-byte md5 keys measured 2× slower through the
    quadratic stage — 48.8 vs 25.1 s sf1; never let a wide synthetic key
    flow through a quadratic stage). Relabeling is exact given unique
    ids: groups are in bijection with min member ids."""
    docs = docs.withColumn("__g", F.md5(F.array_join(F.array_sort("__shs"),
                                                     "\n")))
    members = (docs.select("id", "__g").distinct()
               .withColumn("gid", F.min("id").over(Window.partitionBy("__g")))
               .select("gid", "id"))
    groups = (docs.groupBy("__g")
              .agg(F.min("id").alias("gid"),
                   F.min("__shs").alias("__shs"),
                   F.countDistinct("id").alias("__m"))
              .select("gid", "__shs", "__m"))
    if persist_index:
        from pyspark import StorageLevel

        from scalding_spark.session import register_persisted
        groups = groups.persist(StorageLevel.MEMORY_AND_DISK)
        register_persisted(groups)  # internal persist — released via
        # session.release_materialized() (callers never see this handle)
        members = members.persist()
        register_persisted(members)
    sizes = groups.select("gid", F.size("__shs").alias("sz"))
    sh = groups.select("gid", "__m", F.explode("__shs").alias("sh"))
    if max_doc_freq is not None:
        # window count over sh, not groupBy+anti-join (r08 measurement:
        # the hot-set broadcast anti-join alternative was ~2× slower).
        # Each consumer plans its OWN Exchange(sh) + Window over the
        # persisted groups (no ReusedExchange — measured), but the
        # windowed output arrives hash-partitioned by sh so the
        # self-join adds no further shuffle. THREE sh-exchanges since
        # r11 (two join sides + the same-set survivor count below),
        # each over GROUP-space rows — smaller than the two doc-space
        # exchanges they replace on any corpus with duplicates.
        w = Window.partitionBy("sh")
        sh = (sh.withColumn("__df", F.sum("__m").over(w))
              .where(F.col("__df") <= max_doc_freq))
    sh = sh.drop("__m", "__df")
    # same-set pairs: every SURVIVING shingle of a set is shared by all
    # its member pairs, so the group's score is s'/(2·sz − s') — exactly
    # 1.0 when nothing was pruned, the doc-space plan's conservative
    # under-estimate otherwise, and absent when everything was pruned
    if max_doc_freq is None:
        gsame = (sizes.withColumn("jaccard", F.lit(1.0))
                 .where(F.lit(1.0) >= F.lit(float(threshold)))
                 .select("gid", "jaccard"))
    else:
        gsame = (sh.groupBy("gid").agg(F.count(F.lit(1)).alias("shared"))
                 .join(sizes, "gid")
                 .withColumn("jaccard", F.col("shared")
                             / (2 * F.col("sz") - F.col("shared")))
                 .where(F.col("jaccard") >= threshold)
                 .select("gid", "jaccard"))
    m1 = members.select("gid", F.col("id").alias("__ia"))
    m2 = members.select("gid", F.col("id").alias("__ib"))
    same = (gsame.join(m1, "gid").join(m2, "gid")
            .where(F.col("__ia") < F.col("__ib"))
            .select(F.col("__ia").alias("id_a"),
                    F.col("__ib").alias("id_b"), "jaccard"))
    a, b = sh.alias("a"), sh.alias("b")
    gshared = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                      & (F.col("a.gid") < F.col("b.gid")))
               .groupBy(F.col("a.gid").alias("__ga"),
                        F.col("b.gid").alias("__gb"))
               .agg(F.count(F.lit(1)).alias("shared")))
    sz_a = sizes.select(F.col("gid").alias("__ga"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("gid").alias("__gb"), F.col("sz").alias("sz_b"))
    gcross = (gshared.join(sz_a, "__ga").join(sz_b, "__gb")
              .withColumn("jaccard",
                          F.col("shared") / (F.col("sz_a") + F.col("sz_b")
                                             - F.col("shared")))
              .where(F.col("jaccard") >= threshold)
              .select("__ga", "__gb", "jaccard"))
    ma = members.select(F.col("gid").alias("__ga"), F.col("id").alias("__ia"))
    mb = members.select(F.col("gid").alias("__gb"), F.col("id").alias("__ib"))
    cross = (gcross.join(ma, "__ga").join(mb, "__gb")
             .where(F.col("__ia") != F.col("__ib"))
             .select(F.least("__ia", "__ib").alias("id_a"),
                     F.greatest("__ia", "__ib").alias("id_b"), "jaccard"))
    return same.unionByName(cross)


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 64, shingle_n: int = 3) -> DataFrame:
    """Per-document MinHash signature: for seed s, sig[s] = min over shingles
    of xxhash64(shingle, s). One explode + one hash-aggregation computing all
    ``num_hashes`` minima in the same partial-agg pass (map-side combined —
    the reference's AggregateBy pattern, GroupBuilder.scala:46).

    Returns (id, sig array<bigint>). Deterministic (xxhash64 is seeded).

    Map-only: signatures are per-document, so they're pure array expressions
    — no explode, no shuffle (6× faster than the explode+groupBy plan at
    sf0.1, and at 100 TB it removes a full-corpus exchange). Each shingle is
    string-hashed once (h0); the per-seed hashes derive from the 8-byte h0,
    and codegen-level common-subexpression elimination computes h0 once."""
    shs = shingles(F.col(text_col), shingle_n)
    return (df.where(F.size(shs) > 0)
            .select(F.col(id_col).alias("id"),
                    _minhash_sig_expr(shs, num_hashes).alias("sig")))


def _minhash_sig_expr(shs: Column, num_hashes: int) -> Column:
    """The MinHash signature as a pure Column expression over a shingle
    ARRAY (the kernel :func:`minhash_signatures` applies to text; also
    applied directly to stored representative shingle sets in
    :func:`minhash_lsh_pairs`). Depends on the shingle array only through
    its SET — element order never changes a min."""
    from scalding_spark.functions.text import let_bound

    # let-bound h0: as an inlined operand it would be re-derived (shingle
    # strings re-hashed) once per SEED — a num_hashes× factor, since
    # interpreted HOFs don't share subexpressions (see text.let_bound)
    # NOTE: the per-seed lambda must stay SINGLE-argument. PySpark's
    # `transform` inspects the callable's arity and passes the element
    # INDEX as a second positional arg — a `lambda h, s=s:` capture is a
    # 2-arg callable, so `s` silently becomes the element index and every
    # seed computes the IDENTICAL hash (minhash degenerates to 1 effective
    # hash function; r05 py_oracle caught it). Closure capture is safe:
    # transform() invokes the lambda once at expression-BUILD time, while
    # the comprehension's `s` holds its current value.
    def per_seed(h0: Column, s: int) -> Column:
        return F.array_min(F.transform(h0, lambda h: F.xxhash64(h, F.lit(s))))

    return let_bound(
        F.transform(shs, lambda x: F.xxhash64(x)),
        lambda h0: F.array(*[per_seed(h0, s) for s in range(num_hashes)]))


def minhash_band_hashes(num_hashes: int, bands: int,
                        sig_col: str = "sig") -> Column:
    """Band-hash array over a MinHash signature column: element b is
    xxhash64 of the b-th signature slice, salted by the band index (two
    docs are LSH candidates iff any element matches). Shared by the batch
    self-join (:func:`minhash_lsh_pairs`) and :func:`_signature_probe`
    so both bucket identically. When ``bands`` does
    not divide ``num_hashes`` the trailing ``num_hashes % bands``
    signature slots are unused (rows_per_band = num_hashes // bands) —
    the historical minhash_lsh_pairs contract."""
    r = num_hashes // bands
    if r < 1:
        raise ValueError(f"bands ({bands}) exceeds num_hashes ({num_hashes})")
    return F.array(*[
        F.xxhash64(F.slice(sig_col, b * r + 1, r), F.lit(b))
        for b in range(bands)])


def signature_jaccard(sig_a: Column, sig_b: Column,
                      num_hashes: int) -> Column:
    """Jaccard ESTIMATE from two MinHash signatures: the fraction of
    agreeing hash slots (unbiased, stderr ≈ 1/sqrt(num_hashes)). The
    text-free verifier for cross-corpus dedup where only signatures are
    retained (32·num_hashes bits/doc, never the text)."""
    return (F.size(F.filter(F.zip_with(sig_a, sig_b,
                                       lambda x, y: x == y),
                            lambda m: m))
            / F.lit(float(num_hashes)))


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_n: int = 3, threshold: float = 0.7,
                      stats: dict | None = None) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verification.

    Plan (all shuffles on 8-byte keys):
      signatures → explode into ``bands`` band-hashes → groupBy band-hash
      (bucket join) → distinct candidate pairs → verify with exact shingle
      Jaccard on just the candidates.

    Band math: rows-per-band r = num_hashes/bands; P(candidate) = 1-(1-j^r)^b,
    steep around j ≈ (1/b)^(1/r) — defaults target j ≈ 0.5-0.7.

    Runs in DISTINCT SHINGLE-SET space (the fuzzy_join/hamming_band_pairs
    recipe): signatures, band buckets, and exact Jaccard all depend on a
    document only through its distinct shingle SET, so byte-identical
    documents — and any documents whose texts shingle to the same set —
    are signed, banded, and verified ONCE per distinct set and expanded
    to id pairs afterwards by a straight membership equi-join. n
    byte-identical documents therefore cost 1 signature + 1 verify
    instead of n signatures + C(n,2) banded verifies; their C(n,2)
    (jaccard = 1.0) output pairs — the answer itself, hence the floor —
    come from the membership self-join, exactly output-sized, and AQE
    skew-split can divide a hot set's expansion across tasks. Set
    identity keys on md5 of the sorted shingle array (tokens are
    alphanumeric, shingles space-joined, so the newline join is
    unambiguous). The per-set frame is persisted (MEMORY_AND_DISK — it
    carries the representative shingle arrays for the verify, the ngram
    index-persist tradeoff), and so is the tiny (id, set-key) membership
    map used four times downstream.

    ``stats``: pass a dict to record candidate observability counters
    (costs extra count jobs; the hamming_band_pairs precedent):
    ``docs`` (non-empty-shingle documents), ``distinct_sets`` (the
    banding's true input size), and ``candidate_set_pairs`` (distinct
    set pairs the band join emits — the verify's true row count). On a
    duplicate-heavy corpus candidate_set_pairs stays a function of the
    DISTINCT corpus, independent of duplication multiplicity."""
    shs_expr = shingles(F.col(text_col), shingle_n)
    docs = (df.select(F.col(id_col).alias("id"), shs_expr.alias("__shs"))
            .where(F.size("__shs") > 0)
            .withColumn("__g", F.md5(F.array_join(F.array_sort("__shs"),
                                                  "\n"))))
    # distinct: exact duplicate input rows must not duplicate output
    # pairs (the pre-r11 candidate .distinct() contract)
    members = docs.select("id", "__g").distinct()
    # min(__shs) is deterministic AND immaterial: every array in a group
    # holds the same SET, and sig/intersect/size depend only on the set
    groups = docs.groupBy("__g").agg(F.min("__shs").alias("__shs"))
    gsigs = groups.select(
        "__g", "__shs",
        _minhash_sig_expr(F.col("__shs"), num_hashes).alias("sig"))
    from pyspark import StorageLevel

    from scalding_spark.session import register_persisted
    members = members.persist()
    register_persisted(members)  # released via release_materialized()
    gsigs = gsigs.persist(StorageLevel.MEMORY_AND_DISK)
    register_persisted(gsigs)
    band_arr = minhash_band_hashes(num_hashes, bands)
    buckets = gsigs.select("__g", F.explode(band_arr).alias("bucket"))
    l, r = buckets.alias("l"), buckets.alias("r")
    gcands = (l.join(r, (F.col("l.bucket") == F.col("r.bucket"))
                     & (F.col("l.__g") < F.col("r.__g")))
              .select(F.col("l.__g").alias("__ga"),
                      F.col("r.__g").alias("__gb"))
              .distinct())
    if stats is not None:
        stats["docs"] = members.count()
        stats["distinct_sets"] = gsigs.count()
        stats["candidate_set_pairs"] = gcands.count()
    # exact verify ONCE per candidate set pair
    ga = gsigs.select(F.col("__g").alias("__ga"), F.col("__shs").alias("shs_a"))
    gb = gsigs.select(F.col("__g").alias("__gb"), F.col("__shs").alias("shs_b"))
    ver = (gcands.join(ga, "__ga").join(gb, "__gb")
           .withColumn("inter", F.size(F.array_intersect("shs_a", "shs_b")))
           .withColumn("uni", F.size("shs_a") + F.size("shs_b") - F.col("inter"))
           .withColumn("jaccard", F.when(F.col("uni") > 0,
                                         F.col("inter") / F.col("uni")).otherwise(0.0))
           .where(F.col("jaccard") >= threshold)
           .select("__ga", "__gb", "jaccard"))
    ma = members.select(F.col("__g").alias("__ga"), F.col("id").alias("__ia"))
    mb = members.select(F.col("__g").alias("__gb"), F.col("id").alias("__ib"))
    cross = (ver.join(ma, "__ga").join(mb, "__gb")
             # an id appearing with two different texts sits in two set
             # groups; a verified (g_a, g_b) pair between them must not
             # expand to a self-row (pre-r11 strict-inequality contract)
             .where(F.col("__ia") != F.col("__ib"))
             .select(F.least("__ia", "__ib").alias("id_a"),
                     F.greatest("__ia", "__ib").alias("id_b"), "jaccard"))
    # same-set pairs: identical shingle sets share every band bucket
    # (always candidates) and verify to EXACTLY 1.0 (size/size in double)
    sa, sb = members.alias("sa"), members.alias("sb")
    same = (sa.join(sb, (F.col("sa.__g") == F.col("sb.__g"))
                    & (F.col("sa.id") < F.col("sb.id")))
            .select(F.col("sa.id").alias("id_a"), F.col("sb.id").alias("id_b"),
                    F.lit(1.0).alias("jaccard"))
            .where(F.lit(1.0) >= F.lit(float(threshold))))
    return same.unionByName(cross)


def _signature_probe(probe: DataFrame, target: DataFrame, num_hashes: int,
                     bands: int, threshold: float) -> DataFrame:
    """The one MinHash store probe → ``(bid, sid)``: ``probe`` id ``bid``
    and ``target`` id ``sid`` share ≥1 (band, hash) bucket and their
    :func:`signature_jaccard` estimate reaches ``threshold``; both frames
    are ``(id, sig)``. The probe's bands and signatures BROADCAST over a
    map-only scan of the target, so the corpus-sized target never
    shuffles. A self-probe also emits (a, a) and both orders — filter
    ``sid < bid`` for "the larger id loses". :func:`neardup_against` and
    both steps of the streaming near-dup tier call it, so batch and
    stream agree by construction."""
    bh = minhash_band_hashes(num_hashes, bands)
    bbands = probe.select(F.col("id").alias("__bid"),
                          F.posexplode(bh).alias("__band", "__h"))
    bsigs = probe.select(F.col("id").alias("__bid"),
                         F.col("sig").alias("__bsig"))
    store = target.select(F.col("id").alias("__sid"),
                          F.col("sig").alias("__ssig"))
    store_bands = store.select(
        "__sid",
        F.posexplode(minhash_band_hashes(num_hashes, bands, "__ssig"))
        .alias("__band", "__h"))
    cands = (store_bands.join(F.broadcast(bbands), ["__band", "__h"])
             .select("__bid", "__sid").distinct())
    return (store.join(F.broadcast(cands), "__sid")
            .join(F.broadcast(bsigs), "__bid")
            .where(signature_jaccard(F.col("__bsig"), F.col("__ssig"),
                                     num_hashes)
                   >= F.lit(float(threshold)))
            .select(F.col("__bid").alias("bid"), F.col("__sid").alias("sid")))


def neardup_against(new: DataFrame, store_sigs: DataFrame, text_col: str,
                    id_col: str, num_hashes: int = 64, bands: int = 16,
                    shingle_n: int = 3, threshold: float = 0.7) -> DataFrame:
    """Batch analog of the streaming store probe
    (:func:`scalding_spark.streaming.stream_ingest_neardup` step 3) —
    and the NEAR-dup upgrade of :func:`dedup_against_fingerprints`: drop
    rows of ``new`` whose MinHash-estimated Jaccard to ANY stored
    signature reaches ``threshold``. ``store_sigs`` is an ``(id, sig)``
    frame — :func:`minhash_signatures` over the retained corpus, or the
    streaming signature store read back; signatures and band hashes use
    the same seeds as :func:`minhash_lsh_pairs` and the streaming probe,
    so all three bucket identically and a corpus can move between the
    batch and streaming paths without re-signing.

    100 TB shape: ONE signature pass over the batch (the dominant
    per-doc CPU), then :func:`_signature_probe` — the store is scanned
    map-only and never shuffles, increment cost is O(|batch| + one store
    scan). Token-less/NULL docs carry no shingles and always pass — no
    evidence is not duplication evidence."""
    sigs = minhash_signatures(new, text_col, id_col, num_hashes, shingle_n)
    dups = (_signature_probe(sigs, store_sigs, num_hashes, bands, threshold)
            .select(F.col("bid").alias(id_col)).distinct())
    return new.join(dups, id_col, "left_anti")


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document: sign-sum of token-hash bits.

    Expression-only formulation: explode tokens → for each of 64 bits,
    sum(±1 by bit of xxhash64(token)) in ONE hash aggregation (64 partial
    aggregates, map-side combined) → reassemble the sign bits into a bigint.
    Returns (id, simhash)."""
    from scalding_spark.functions.text import tokenize
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(tokenize(F.col(text_col))).alias("tok"))
    h = F.xxhash64("tok")
    bit_sums = [
        F.sum(F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(63)  # bit 63 (sign) excluded: keep result non-negative
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    sim = None
    for b in range(63):
        bit = F.when(F.col(f"b{b}") > 0,
                     F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return agg.select("id", sim.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 3,
                       max_chunk_freq: int | None = None,
                       stats: dict | None = None) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, banded
    (see :func:`hamming_band_pairs` — the shared 64-bit banding kernel,
    also under multimodal.image_neardup_pairs' perceptual hashes;
    ``max_chunk_freq``/``stats`` pass through to it)."""
    sims = simhash64(df, text_col, id_col)
    return hamming_band_pairs(sims, "id", "simhash", max_hamming,
                              max_chunk_freq=max_chunk_freq, stats=stats)


def hamming_chunk_cols(hash_col, max_hamming: int) -> Column:
    """The pigeonhole band key array for a 64-bit hash: (max_hamming+1)
    ``struct(chunk, key)`` entries — a pair within the hamming budget
    must agree exactly on ≥1 entry (see :func:`hamming_band_pairs`).
    Shared by the batch pair generator and :func:`_hamming_probe`
    (same chunking ⇒ same recall guarantee).

    ``max_hamming=0`` is exact-hash banding: ONE chunk holding the whole
    hash (no shift/mask — a 64-bit mask literal doesn't fit a BIGINT).
    Budgets past 16 are refused: the band width drops under 4 bits and
    banding stops pruning (every chunk key collides)."""
    if not 0 <= max_hamming <= 16:
        raise ValueError(
            f"max_hamming={max_hamming}: want 0..16 — 0 is exact-hash "
            f"match; past 16 the 64-bit chunks narrow under 4 bits and "
            f"the band join degenerates toward all-pairs")
    chunks = max_hamming + 1
    width = 64 // chunks
    col = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    if chunks == 1:
        return F.array(F.struct(F.lit(0).alias("chunk"),
                                col.alias("key")))
    return F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftrightunsigned(hash_col, c * width).bitwiseAND(
                     F.lit((1 << width) - 1)).alias("key"))
        for c in range(chunks)])


def _hamming_probe(probe: DataFrame, target: DataFrame,
                   max_hamming: int) -> DataFrame:
    """The one 64-bit hash store probe → ``(bid, sid)``: ``target`` id
    ``sid`` sits within ``max_hamming`` bits of ``probe`` id ``bid``
    (one row per shared chunk, so a pair may repeat); both frames are
    ``(id, phash)``. The probe's :func:`hamming_chunk_cols` table
    BROADCASTS over a map-only scan of the target with the hamming
    verify fused into the join — one target scan, no shuffle, and
    pigeonhole-exact. A self-probe also emits (a, a) and both orders —
    filter ``sid < bid`` for "the larger id loses". Both steps of the
    streaming perceptual-hash tier call it."""
    bchunks = probe.select(
        F.col("id").alias("bid"), F.col("phash").alias("bph"),
        F.explode(hamming_chunk_cols("phash", max_hamming)).alias("ck"))
    return (target.select(
                F.col("id").alias("sid"), "phash",
                F.explode(hamming_chunk_cols("phash", max_hamming))
                .alias("ck"))
            .join(F.broadcast(bchunks), "ck")
            .where(F.bit_count(F.col("phash").bitwiseXOR(F.col("bph")))
                   <= max_hamming)
            .select("bid", "sid"))


def hamming_band_pairs(hashes: DataFrame, id_col: str, hash_col: str,
                       max_hamming: int,
                       max_chunk_freq: int | None = None,
                       stats: dict | None = None) -> DataFrame:
    """Pairs of 64-bit hashes within hamming distance ≤ max_hamming →
    (id_a, id_b, hamming), banded: split the hash into (max_hamming+1)
    chunks — any pair within the distance budget must agree exactly on
    ≥1 chunk (pigeonhole; chunks cover the low (max_hamming+1)·⌊64/(m+1)⌋
    bits, and ≤ max_hamming differing bits anywhere still leave one
    covered chunk clean), so the join key is a chunk value + chunk id,
    never all-pairs. Works on signed bigints (shiftrightunsigned /
    bit_count are two's-complement-correct).

    Banding runs in DISTINCT-HASH space (the fuzzy_join recipe): a crawl
    corpus with n byte-identical or flat images (blank thumbnails, logos
    — all dHash 0) used to put n identical hashes in every chunk bucket,
    paying C(n,2)·(max_hamming+1) self-join hits before the distinct.
    Banding over distinct hash VALUES makes an identical-hash group cost
    ONE row per chunk; its (id_a, id_b) pairs — which ARE the answer, so
    their count is the output floor — come from a straight equi-join on
    the hash value instead (exactly output-sized, no distinct over a
    quadratic candidate set, and AQE skew-split can divide a hot hash's
    expansion across tasks).

    ``max_chunk_freq``: optionally drop chunk keys shared by more than
    this many DISTINCT hashes from the banding (the ngram stop-shingle
    precedent, in distinct-hash space). A chunk key collapsing d distinct
    hashes still yields C(d,2) cross-hash candidates — near-flat image
    corpora concentrate there — so the cap bounds that blowup.
    RECALL-TRADING, unlike the default: a pair whose only clean chunk is
    dropped disappears. Default None = exact.

    ``stats``: pass a dict to record hot-chunk observability counters
    (exact, distinct-hash space; costs one extra aggregation job):
    ``distinct_hashes``, ``max_chunk_distinct_hashes`` (the hottest chunk
    bucket), and ``cross_hash_candidates`` (Σ C(d,2) over chunk buckets —
    the band join's true row count before the hamming filter).

    The (id, hash) frame is persisted: it feeds FIVE scans downstream
    (the distinct-hash banding, both sides of the same-hash self-join,
    both membership joins) — for image/audio callers the upstream is an
    expensive Arrow decode+hash pass, so without a persist that pass
    would re-execute per scan. The rows are 16 bytes each, the 100
    TB-safe persist class (as minhash_lsh_pairs' per-set frame);
    released via release_materialized().
    Exact duplicate (id, hash) rows are dropped up front and the
    membership expansion never emits a self-pair, so an id appearing
    twice (duplicate rows, or two hashes for one id) cannot produce
    (X, X) rows or duplicated pairs — the strict-inequality contract of
    the pre-r11 id-space join, preserved."""
    sims = (hashes.select(F.col(id_col).alias("id"),
                          F.col(hash_col).alias("simhash"))
            .distinct())
    from scalding_spark.session import register_persisted
    sims = sims.persist()
    register_persisted(sims)  # released via release_materialized()
    dh = sims.select("simhash").distinct()
    exploded = dh.select(
        "simhash",
        F.explode(hamming_chunk_cols("simhash", max_hamming)).alias("ck"))
    if stats is not None:
        freq = exploded.groupBy("ck").agg(F.count(F.lit(1)).alias("d"))
        row = freq.agg(
            F.coalesce(F.max("d"), F.lit(0)).alias("mx"),
            F.coalesce(F.sum(F.col("d") * (F.col("d") - 1) / 2),
                       F.lit(0.0)).alias("cands")).collect()[0]
        stats["distinct_hashes"] = dh.count()
        stats["max_chunk_distinct_hashes"] = int(row["mx"])
        stats["cross_hash_candidates"] = int(row["cands"])
    if max_chunk_freq is not None:
        # per-partition window count, not groupBy+anti-join — the
        # measured-cheaper hot-key filter shape (see ngram_jaccard_pairs)
        w = Window.partitionBy("ck")
        exploded = (exploded
                    .withColumn("__cf", F.count(F.lit(1)).over(w))
                    .where(F.col("__cf") <= max_chunk_freq).drop("__cf"))
    l, r = exploded.alias("l"), exploded.alias("r")
    hp = (l.join(r, (F.col("l.ck") == F.col("r.ck"))
                 & (F.col("l.simhash") < F.col("r.simhash")))
          .select(F.col("l.simhash").alias("sh_a"),
                  F.col("r.simhash").alias("sh_b"))
          .distinct()
          .withColumn("hamming",
                      F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
          .where(F.col("hamming") <= max_hamming))
    ia = sims.select(F.col("id").alias("__ia"), F.col("simhash").alias("sh_a"))
    ib = sims.select(F.col("id").alias("__ib"), F.col("simhash").alias("sh_b"))
    cross = (hp.join(ia, "sh_a").join(ib, "sh_b")
             # one id carrying BOTH hashes of a near pair would expand
             # to a self-row; the pre-r11 strict l.id < r.id join made
             # that unrepresentable — keep it so
             .where(F.col("__ia") != F.col("__ib"))
             .select(F.least("__ia", "__ib").alias("id_a"),
                     F.greatest("__ia", "__ib").alias("id_b"),
                     F.col("hamming")))
    a, b = sims.alias("a"), sims.alias("b")
    same = (a.join(b, (F.col("a.simhash") == F.col("b.simhash"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.lit(0).cast("int").alias("hamming")))
    return same.unionByName(cross)


def decontaminate(corpus: DataFrame, benchmark: DataFrame, text_col: str,
                  id_col: str, n: int = 8, min_shared: int = 1,
                  benchmark_text_col: str | None = None) -> DataFrame:
    """Benchmark decontamination: drop corpus documents sharing ≥
    ``min_shared`` distinct word n-grams with any benchmark document — the
    standard guard against eval-set leakage into training data.

    Plan, 100 TB-first: the benchmark side is tiny (eval suites are
    thousands of docs), so its distinct shingle set is BROADCAST; the
    corpus explodes shingles map-side, inner-joins the broadcast set
    (no corpus shuffle), and only (doc_id) survivors — a small table —
    aggregate to count shared shingles. The final anti-join keys on ids.
    The corpus text itself is never shuffled. Default n=8: long n-grams
    make coincidental overlap negligible (contamination-detection practice);
    lower n + higher min_shared trades precision/recall.
    """
    bshingles = (benchmark
                 .select(F.explode(shingles(
                     F.col(benchmark_text_col or text_col), n)).alias("sh"))
                 .distinct())
    corpus_sh = corpus.select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(F.col(text_col), n)).alias("sh"))
    hits = (corpus_sh.join(F.broadcast(bshingles), "sh")
            .groupBy("__id").agg(F.countDistinct("sh").alias("__shared"))
            .where(F.col("__shared") >= min_shared)
            .select("__id"))
    # broadcast the (small) contaminated-id set too: a shuffled anti-join
    # would move the whole corpus — text included — across the wire
    return corpus.join(F.broadcast(hits),
                       corpus[id_col] == hits["__id"], "left_anti")


def contamination_report(corpus: DataFrame, benchmark: DataFrame,
                         text_col: str, id_col: str,
                         bench_id_col: str, n: int = 8,
                         benchmark_text_col: str | None = None) -> DataFrame:
    """Audit complement of :func:`decontaminate`: instead of dropping
    contaminated corpus rows, report PER BENCHMARK ITEM how widely it
    leaked — ``(bench_id, n_corpus_docs`` sharing ≥1 n-gram,
    ``n_shared_ngrams`` distinct overlapping grams). Items with zero
    hits stay in the report: "not leaked" is a positive signal an eval
    owner needs, not an absent row.

    Same 100 TB plan shape as :func:`decontaminate`: the benchmark's
    ``(id, shingle)`` pairs broadcast; the corpus explodes its shingles
    map-side and inner-joins the broadcast — the corpus text never
    shuffles, and everything that aggregates afterwards is
    benchmark-sized."""
    bcol = benchmark_text_col or text_col
    bsh = (benchmark
           .select(F.col(bench_id_col).alias("bench_id"),
                   F.explode(shingles(F.col(bcol), n)).alias("sh"))
           .distinct())
    csh = corpus.select(F.col(id_col).alias("__cid"),
                        F.explode(shingles(F.col(text_col), n)).alias("sh"))
    hits = (csh.join(F.broadcast(bsh), "sh")
            .groupBy("bench_id")
            .agg(F.countDistinct("__cid").alias("n_corpus_docs"),
                 F.countDistinct("sh").alias("n_shared_ngrams")))
    base = benchmark.select(F.col(bench_id_col).alias("bench_id")).distinct()
    return (base.join(hits, "bench_id", "left")
            .select("bench_id",
                    F.coalesce("n_corpus_docs", F.lit(0))
                    .alias("n_corpus_docs"),
                    F.coalesce("n_shared_ngrams", F.lit(0))
                    .alias("n_shared_ngrams")))


# Star rounds run only while the active edge set is larger than this; the
# rest is labelled on the driver. 1e6 edges are about 16 MB as two int64
# arrays (and the mapping is at most 2e6 rows), so the bound caps driver
# memory whatever the input size.
_LOCAL_FINISH_EDGES = 1_000_000

# id types whose numpy order is Spark's order. Floating ids are not: Spark
# sorts NaN above every value and equates -0.0 with 0.0.
_LOCAL_ID_TYPES = ("tinyint", "smallint", "int", "bigint")


def _local_components(e: DataFrame) -> DataFrame:
    """Label the edge set ``e(u, v)`` on the driver → (node, comp), comp =
    the min node id of each component. ``e`` is pulled as Arrow and
    labelled by min-root hooking with pointer jumping; each pass hooks
    every root with a smaller-rooted neighbor onto the smallest one, so
    the roots are the component minima and a root left unhooked is hooked
    the pass after, O(log n) passes. The mapping ships back as Arrow."""
    import numpy as np
    t = e.select("u", "v").toArrow()
    u, v = t.column("u").to_numpy(), t.column("v").to_numpy()
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[:len(u)], idx[len(u):]
    parent = np.arange(len(nodes))
    while len(a):
        ra, rb = parent[a], parent[b]
        live = ra != rb  # an edge inside one tree stays inside it
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    typ = e.schema["u"].dataType.simpleString()
    return _arrow_frame(e.sparkSession, [nodes, nodes[parent]],
                        f"node {typ}, comp {typ}")


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 30,
                         stats: dict | None = None) -> DataFrame:
    """Connected components over an undirected edge list → (node, comp),
    where comp = the minimum node id in the component. Every node that
    appears in ``edges`` is labelled, including one whose only edge is a
    self-loop; edges with a NULL endpoint are ignored.

    Alternating large-star / small-star (the published two-phase
    star-contraction scheme for MapReduce-style CC): O(log d) rounds for
    a component of diameter d, where min-label propagation needs O(d).
    Dedup clique clusters converge in 2-3 rounds, chain-shaped graphs
    (linkage chains at exploratory thresholds, web graphs) in a handful
    more. Rounds scale with cluster DIAMETER, not corpus size — at 100 TB
    the iteration count is the same, each round just shuffles more edges.

    Bounded local finish (the contract-then-finish-locally shape of Łącki
    et al., "Connected Components at Scale via Local Contractions"): star
    rounds run only while the active edge count is above
    ``_LOCAL_FINISH_EDGES`` (T = 1e6, about 16 MB of int64 pairs). The
    count before round 1 is the canonical cut's, observed during its
    materialization; after round k it is the round's fingerprint count, so
    the check adds no job. Once the count is ≤ T the residual edges are
    collected as Arrow and labelled on the driver (numpy min-root
    hooking), and the (node, comp) mapping — at most 2T rows — ships back
    as an Arrow ``LocalRelation``. When the cut itself is ≤ T (typical
    dedup pair lists) no round runs and the mapping IS the result: every
    node is in the collected cut. Otherwise the mapping is broadcast-joined
    onto the node set; nodes not in the residual label themselves (the
    rounds keep every non-isolated node, so only self-loop-only nodes are
    missing). At 100 TB the rounds contract the graph until its residual
    fits under T: T, not the data, bounds what the driver holds. Only
    integral ids finish locally, where numpy orders ids exactly as Spark
    does; floating ids (NaN sorts above every value in Spark, -0.0 equals
    0.0) always run the rounds to convergence.

    Each round over the parent-pointer edge set:

    - large-star: symmetrize; every neighbor STRICTLY LARGER than u is
      re-pointed at min(N(u) ∪ {u}). One window min over u, on
      fixed-width node ids.
    - small-star: orient u > v; every neighbor (all smaller) and u itself
      point at the min neighbor.

    Both steps strictly never increase the min-reachable label and contract
    star height geometrically. Convergence = (count, order-insensitive
    hash-sum) fingerprint of the edge set unchanged — exact equality would
    cost an extra join per round; a false stop needs a 64-bit hash-sum
    collision at equal counts (~2⁻⁶⁴, documented trade). Each round's
    output is lineage-cut with ``materialize(iterative=True)`` — without
    that the logical plan doubles every round.

    ``stats['iterations']`` reports the star rounds run (0 when the cut
    is labelled on the driver).
    """
    # Cut the upstream ONCE, then derive all_nodes from the cut: a second
    # eager pass over the caller's un-checkpointed upstream recomputes it
    # (for q_dedup_clusters, the entire quadratic ngram pair generation —
    # ~17 s of the query's 44 s at sf1 in r12). Self-loops stay in the cut
    # so a node whose only edge is (n, n) still reaches all_nodes; the
    # rounds then drop them.
    # NULL endpoints only: dropna() would also drop floating NaN ids
    cut = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .where(F.col("u").isNotNull() & F.col("v").isNotNull())
           .select(F.greatest("u", "v").alias("u"),
                   F.least("u", "v").alias("v")).distinct())
    local = cut.schema["u"].dataType.simpleString() in _LOCAL_ID_TYPES
    if local:
        # the cut's size rides its own materialization: no extra job
        size = Observation()
        cut = cut.observe(size, F.count(F.lit(1)).alias("n"))
    e = materialize(cut, eager=True, iterative=True)
    if local and size.get["n"] <= _LOCAL_FINISH_EDGES:
        if stats is not None:
            stats["iterations"] = 0
        return _local_components(e)
    all_nodes = materialize(
        e.select(F.col("u").alias("node"))
         .union(e.select(F.col("v").alias("node")))
         .distinct(), eager=True, iterative=True)
    e = e.where(F.col("u") != F.col("v"))
    prev_fp = None
    rounds = 0
    labels = None
    wu = Window.partitionBy("u")
    for _ in range(max_iter):
        rounds += 1
        # Each star step is ONE exchange: the per-u min is a window aggregate
        # over the same hash partitioning the step needs anyway, so every row
        # learns its group min in place of the groupBy(min)+join-back pair
        # (two exchanges per step, 4/round). Halves per-round shuffle I/O —
        # the lever that matters at cluster scale; at test scale wall-clock
        # gains ~25% (7.5s → 5.4s, sf0.1 chain graph) because the per-round
        # convergence action, not shuffle bytes, dominates tiny graphs.
        #
        # r12: the round-end distinct Exchange(u, v) is GONE (2 big
        # exchanges per round, was 3; measured −21/−25% shuffle
        # read/write on the sf1 chain graph). Dedup instead RIDES the
        # small-star's existing Exchange(u): hashpartitioning(u)
        # satisfies the (u, v) aggregate's clustered-distribution
        # requirement (equal (u, v) rows share u), so
        # repartition("u").dropDuplicates(["u", "v"]) plans
        # exchange-free aggregation under the same shuffle the window
        # needs anyway. The large-star runs dup-laden (mins are
        # duplicate-insensitive): the round output's residual
        # duplicates — nbr's cross-partition (v, m) collisions plus
        # whatever the previous round left — ride through sym/ls into
        # the riding dedup ONE round later, so amplification is bounded
        # at a single round's ls emission and never accumulates. The
        # convergence fingerprint is over the round-output MULTISET:
        # each round is a deterministic function of its input's
        # distinct set, so distinct(e_k) == distinct(e_{k-1}) replays
        # round k+1 identically and the fingerprint stabilizes at
        # exactly the same round the distinct-set fingerprint did.
        # large-star
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        ls = (sym.withColumn("m", F.least(F.col("u"), F.min("v").over(wu)))
              .where(F.col("v") > F.col("u"))
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .where(F.col("u") != F.col("v")))
        # small-star (ls edges already satisfy u > v); the riding dedup
        dls = ls.repartition("u").dropDuplicates(["u", "v"])
        ss = dls.withColumn("m", F.min("v").over(wu))
        nbr = (ss.where(F.col("v") != F.col("m"))
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
        # own dedups for free too: ss is still hash-partitioned by u and
        # every u-row carries the same m, so this is a per-partition agg
        own = (ss.select("u", F.col("m").alias("v"))
               .dropDuplicates(["u", "v"]))
        e = materialize(nbr.union(own), eager=False, iterative=True)
        # decimal sum: a long sum of 64-bit hashes overflows under ANSI mode;
        # decimal(20,0) terms sum at precision 30 — safe past 1e10 edges
        cnt, hs = e.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(F.col("u"), F.col("v")).cast("decimal(20,0)"))
        ).collect()[0]
        fp = (cnt, hs)
        if fp == prev_fp:
            break
        prev_fp = fp
        if local and cnt <= _LOCAL_FINISH_EDGES:
            labels = _local_components(e)
            break
    if stats is not None:
        stats["iterations"] = rounds
    if labels is not None:
        return (all_nodes.join(F.broadcast(labels), "node", "left")
                .select("node", F.coalesce("comp", "node").alias("comp")))
    # fixed point is a star forest: each non-root appears exactly once as u,
    # pointing at its component's min; roots and isolated nodes label
    # themselves. One final dedup clears the last round's residual nbr
    # duplicates (one exchange TOTAL, replacing one per round).
    e = e.dropDuplicates(["u", "v"])
    return (all_nodes.join(e, all_nodes.node == e.u, "left")
            .select("node", F.coalesce(F.col("v"), F.col("node")).alias("comp")))


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str,
                   id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Assign every row a duplicate-cluster id from a near-dup pair list:
    cluster_id = min doc id in the row's connected component; rows with no
    near-dup edge keep their own id (left join + coalesce, so the full
    corpus never funnels through the component computation)."""
    comps = connected_components(pairs, src=id_a, dst=id_b)
    return (df.join(comps, df[id_col] == comps.node, "left")
            .withColumn("cluster_id", F.coalesce(F.col("comp"), F.col(id_col)))
            .drop("node", "comp"))


def select_representatives(df: DataFrame, pairs: DataFrame, id_col: str,
                           order_by: list | None = None,
                           id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Keep exactly ONE row per duplicate cluster, the keeper chosen by
    ``order_by`` (a list of Columns, e.g. ``[F.col('n_chars').desc()]`` to
    keep the longest; ``[quality.desc()]`` to keep the best-scored). Ties —
    and the default when ``order_by`` is None — break on ascending
    ``id_col``, which degenerates to :func:`dedup_clusters`' min-id rule.

    The real-pipeline upgrade over min-id: production dedup keeps the
    highest-quality / longest / most-recent duplicate, not the smallest id.

    Scale: one per-cluster window after the component join; cluster sizes
    are near-dup group sizes (small by construction), and the window's
    exchange keys on cluster_id — no global sort. Rows with no near-dup
    edge are their own cluster and always survive.
    """
    clustered = dedup_clusters(df, pairs, id_col, id_a, id_b)
    if order_by is None:
        return (clustered.where(F.col("cluster_id") == F.col(id_col))
                .drop("cluster_id"))
    w = Window.partitionBy("cluster_id").orderBy(*order_by, F.col(id_col))
    return (clustered.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn", "cluster_id"))


def shared_ngram_spans(df: DataFrame, text_col: str, id_col: str,
                       n: int = 4, min_len: int = 8,
                       max_gram_freq: int | None = 1000,
                       persist_index: bool = False,
                       stats: dict | None = None) -> DataFrame:
    """Exact shared-substring detection: maximal token runs of length ≥
    ``min_len`` appearing verbatim in two documents — the span-level exact
    dedup used for training corpora (find & cut duplicated passages rather
    than drop whole near-dup documents). Extends the document-level tiers
    above (no reference analog; SURVEY §6 training-data extension).

    Plan (all relational — no suffix array, no per-executor state):

    1. per-doc positional ``n``-grams, hashed to 8 bytes
       (one expression pass; the exchange below never carries text),
    2. inverted-index self-join on the gram hash (docs must share an n-gram
       to ever meet — no all-pairs),
    3. anti-diagonal islands: matches of a doc pair on the same offset
       difference ``pos_a - pos_b`` with consecutive ``pos_a`` form one
       maximal shared run (gaps-and-islands via one window row_number),
    4. one groupBy emits each maximal span once:
       length = consecutive_grams + n - 1 tokens.

    Scale levers mirror ``ngram_jaccard_pairs``: ``max_gram_freq`` drops
    boilerplate grams whose d² match blowup would dominate (a gram in d docs
    yields d² position matches); spans consisting ONLY of such grams are
    lost — conservative, and at ``max_gram_freq=1000`` a surviving span
    still needs just one sub-frequency gram. The join key is an 8-byte
    xxhash64 (a 64-bit collision can fabricate one gram match, which then
    needs ``min_len - n`` consecutive *further* collisions on the same
    diagonal to fake a span — vanishing, and exact-match verification can
    be layered by re-joining the token slices).

    Returns (id_a, id_b, start_a, start_b, span_tokens), id_a < id_b.

    With ``persist_index=True`` the gram index stays cached until the
    session ends; long-lived drivers calling repeatedly should pass a
    ``stats`` dict — the persisted DataFrame is exposed as
    ``stats['gram_index']`` so the caller can ``.unpersist()`` it once the
    result is materialized.
    """
    from scalding_spark.functions.text import let_bound, tokenize
    toks = tokenize(F.col(text_col))  # the ONE tokenizer (text.py)
    k = F.size(toks)
    # let-bound: inlined, the gram lambda re-tokenizes per gram — O(n²)
    # per row (see text.let_bound)
    grams = let_bound(toks, lambda t: F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
        lambda i: F.xxhash64(F.array_join(F.slice(t, i + 1, n), " "))))
    g = (df.where(k >= n)
         .select(F.col(id_col).alias("id"),
                 F.posexplode(grams).alias("pos", "gh")))
    if persist_index:
        # OFF by default — unlike ngram_jaccard_pairs (whose sizes agg
        # exchanges on a different key), every consumer here hangs off ONE
        # gh exchange, which Catalyst reuses on the sort-merge path a large
        # corpus takes; persisting would then spend executor storage on an
        # index bigger than the text for zero CPU saved. Turn on only for
        # the small-corpus broadcast regime, where the plan materializes
        # the windowed index separately per join side (observed: two gh
        # exchanges, no reuse, under AQE broadcast) and tokenize runs twice.
        from pyspark import StorageLevel
        from scalding_spark.session import register_persisted
        g = g.persist(StorageLevel.MEMORY_AND_DISK)
        register_persisted(g)  # also freed by release_materialized()
        if stats is not None:
            stats["gram_index"] = g  # caller unpersists after materializing
    if max_gram_freq is not None:
        # window count over the gram hash: same exchange the self-join needs,
        # so pruning rides the partitioning it would pay for anyway
        wg = Window.partitionBy("gh")
        g = (g.withColumn("__df", F.count(F.lit(1)).over(wg))
             .where(F.col("__df") <= max_gram_freq).drop("__df"))
    a, b = g.alias("a"), g.alias("b")
    m = (a.join(b, (F.col("a.gh") == F.col("b.gh"))
                & (F.col("a.id") < F.col("b.id")))
         .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.pos").alias("pos_a"), F.col("b.pos").alias("pos_b"),
                 (F.col("a.pos") - F.col("b.pos")).alias("diag")))
    wi = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    isl = m.withColumn("__isl", F.col("pos_a") - F.row_number().over(wi))
    return (isl.groupBy("id_a", "id_b", "diag", "__isl")
            .agg(F.min("pos_a").alias("start_a"),
                 F.min("pos_b").alias("start_b"),
                 (F.count(F.lit(1)) + n - 1).alias("span_tokens"))
            .where(F.col("span_tokens") >= min_len)
            .select("id_a", "id_b", "start_a", "start_b", "span_tokens"))


def cut_spans(df: DataFrame, spans: DataFrame, text_col: str, id_col: str):
    """The cut pass that :func:`shared_ngram_spans` feeds (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": remove the
    duplicated PASSAGE, keep both documents): for every reported span the
    HIGHER-id side (``id_b``, at ``start_b``) loses its copy; the lower-id
    document keeps the canonical occurrence.

    Plan: the span list folds to one array of (start, len) intervals per
    victim doc (map-side-combined collect_list keyed on the doc — span
    counts per doc are small); a LEFT join hands each doc its intervals;
    the rewrite is ONE expression — positional token filter via the
    two-arg ``filter`` lambda, overlapping intervals handled by the
    NOT-exists predicate with no interval merging. Docs with no span join
    null and pass through BYTE-IDENTICAL.

    Rewritten docs get normalized space-joined tokens (the tokenizer
    contract, same as chunk_documents) — positions index TOKENS, so the
    original byte layout of a cut doc is not reconstructible anyway.

    Returns ``df`` with ``text_col`` rewritten plus ``n_cut_tokens``.
    """
    cuts = spans.select(F.col("id_b").alias(id_col),
                        F.col("start_b").cast("long").alias("start"),
                        F.col("span_tokens").cast("long").alias("len"))
    per = cuts.groupBy(id_col).agg(
        F.collect_list(F.struct("start", "len")).alias("__cuts"))
    toks = tokenize(F.col(text_col))  # the ONE tokenizer (text.py) —
    # span positions must agree with shared_ngram_spans token indices
    in_cut = lambda i: F.exists(  # noqa: E731 — named for the plan, not reuse
        F.col("__cuts"),
        lambda c: (i >= c["start"]) & (i < c["start"] + c["len"]))
    kept = F.filter(toks, lambda t, i: ~in_cut(i.cast("long")))
    n_cut = F.size(toks) - F.size(kept)
    others = [c for c in df.columns if c != text_col]
    return (df.join(per, id_col, "left")
            .select(*others,
                    F.when(F.col("__cuts").isNull(), F.col(text_col))
                     .otherwise(F.array_join(kept, " ")).alias(text_col),
                    F.coalesce(
                        F.when(F.col("__cuts").isNotNull(), n_cut),
                        F.lit(0)).cast("long").alias("n_cut_tokens")))


def winnow_fingerprints(df: DataFrame, text_col: str, id_col: str,
                        k: int = 5, window: int = 4) -> DataFrame:
    """Winnowed document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm, adapted to word k-grams like the rest
    of this module's span family): hash every k-token gram, slide a window
    of ``window`` consecutive gram hashes, and select each window's minimum
    (rightmost position on hash ties). Dedup the selections.

    Why winnowing beats "every n-th gram" or "grams ≡ 0 mod p" sampling:
    the coverage guarantee — any shared token run of at least
    ``k + window − 1`` tokens contributes AT LEAST ONE common fingerprint
    to both documents — with an expected density of only 2/(window+1).
    That makes the fingerprint set a contract, not a heuristic: downstream
    overlap detection (join on fp) cannot miss long shared passages.

    Plan: pure per-row expression (tokenize → gram hashes → window argmin
    via higher-order aggregate) with ONE explode at the end — zero
    exchanges; the (id, pos, fp) output is what shuffles downstream, at
    2/(window+1) the gram count. Hashes are md5-bucket (engine-portable,
    same contract as sampling.hash_bucket). Docs with fewer than ``k``
    tokens yield no fingerprints; with fewer than ``window`` grams, the
    single window selects one fingerprint.

    Returns (id_col, pos, fp): 0-based token position of the selected gram
    and its 32-bit fingerprint.
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} w={window}")
    # STAGED columns, each referencing the PREVIOUS stage's bound attribute:
    # interpreted higher-order functions re-evaluate their operand
    # expressions per lambda element, so inlining `toks` into the gram
    # lambda costs one full regex re-tokenization PER GRAM — O(n²) per doc
    # (measured: 50k × 300-token docs went from un-runnable to ~2 s).
    toks = tokenize(F.col(text_col))  # the ONE tokenizer (text.py)
    d = df.select(F.col(id_col), toks.alias("__toks"))
    tks = F.col("__toks")
    n_grams = F.size(tks) - k + 1
    h = lambda j: F.conv(  # noqa: E731 — md5 bucket of the j-th gram
        F.substring(F.md5(F.array_join(F.slice(tks, j, k), " ")), 1, 8),
        16, 10).cast("bigint")
    d = d.select(id_col, n_grams.alias("__n"),
                 # floor at 1 (never 0/negative): sequence(1, 0) would step
                 # DOWNWARD; a too-short doc computes one garbage gram that
                 # the `sel` guard below discards
                 F.transform(F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
                             lambda j: F.struct(h(j).alias("h"),
                                                (j - 1).alias("pos")))
                 .alias("__h"))
    harr = F.col("__h")
    # window starts: 1..max(L-w+1, 1); slice clamps at the array end, so a
    # short final doc (< window grams) still yields its single argmin
    starts = F.sequence(F.lit(1),
                        F.greatest(F.col("__n") - window + 1, F.lit(1)))
    zero = F.struct(F.lit(None).cast("bigint").alias("h"),
                    F.lit(-1).cast("integer").alias("pos"))
    pick = lambda j: F.aggregate(  # noqa: E731 — rightmost min of the window
        F.slice(harr, j, window), zero,
        lambda acc, x: F.when(acc["h"].isNull()
                              | (x["h"] < acc["h"])
                              | ((x["h"] == acc["h"]) & (x["pos"] > acc["pos"])),
                              x).otherwise(acc))
    sel = F.when(F.col("__n") >= 1,
                 F.array_distinct(F.transform(starts, pick))) \
        .otherwise(F.array().cast("array<struct<h:bigint,pos:int>>"))
    return (d.select(F.col(id_col), F.explode(sel).alias("__s"))
            .select(id_col, F.col("__s.pos").alias("pos"),
                    F.col("__s.h").alias("fp")))


def winnow_overlap_pairs(df: DataFrame, text_col: str, id_col: str,
                         k: int = 5, window: int = 4,
                         min_shared: int = 2,
                         max_fp_freq: int | None = 1000) -> DataFrame:
    """Document-overlap candidates from winnowed fingerprints — the MOSS
    pipeline's join stage: docs sharing ≥ ``min_shared`` distinct selected
    fingerprints. By the winnowing coverage theorem every verbatim run of
    ≥ k+window−1 tokens contributes a shared fingerprint, so recall for
    long shared passages is structural, at ~2/(window+1) the index size of
    the all-grams inverted index (:func:`shared_ngram_spans`' front end).

    Plan: fingerprint (map-only) → inverted-index self-join on the 8-byte
    fp → pair count. ``max_fp_freq`` drops boilerplate fingerprints hotter
    than the cap BEFORE the self-join (same conservative-recall contract
    and window-rides-the-join's-exchange shape as ngram_jaccard_pairs).

    Returns (id_a, id_b, shared_fps) with id_a < id_b.
    """
    fps = (winnow_fingerprints(df, text_col, id_col, k=k, window=window)
           .select(F.col(id_col).alias("id"), "fp").distinct())
    # fps feeds BOTH sides of the self-join (and the hot-fp window): the
    # winnowing HOF argmin over the whole corpus is the expensive stage —
    # materialize its (id, fp) output once instead of running it twice
    # (no ReusedExchange across self-join subtrees; same discipline as the
    # LM/BM25 count tables)
    fps = materialize(fps, eager=False)
    if max_fp_freq is not None:
        w = Window.partitionBy("fp")
        fps = (fps.withColumn("__df", F.count(F.lit(1)).over(w))
               .where(F.col("__df") <= max_fp_freq).drop("__df"))
    a, b = fps.alias("a"), fps.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .where(F.col("shared_fps") >= min_shared))


def lsh_plan(threshold: float, num_hashes: int = 64) -> tuple[int, int]:
    """Choose the MinHash LSH banding (bands, rows_per_band) whose S-curve
    midpoint best matches a target Jaccard ``threshold``.

    For b bands of r rows, P(candidate | jaccard=s) = 1 - (1 - s^r)^b,
    steepest around s* = (1/b)^(1/r). This scans the divisor pairs of
    ``num_hashes`` and returns the (b, r) minimizing |s* - threshold|
    (ties -> more bands, i.e. higher recall). Driver-side arithmetic only —
    feed the result to :func:`minhash_lsh_pairs`:

        b, r = lsh_plan(0.8, num_hashes=128)
        pairs = minhash_lsh_pairs(df, "text", "doc_id",
                                  num_hashes=b * r, bands=b, threshold=0.8)
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"need num_hashes >= 2, got {num_hashes}")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        # degenerate pairs (b=1: AND-only, r=1: OR-only) stay in the scan
        # so thresholds near 0/1 resolve to them (pinned by the
        # monotonicity test reaching r=num_hashes at high thresholds)
        midpoint = (1.0 / b) ** (1.0 / r)
        err = abs(midpoint - threshold)
        if best is None or err < best[0] - 1e-12 or (
                abs(err - best[0]) <= 1e-12 and b > best[1]):
            best = (err, b, r)
    return best[1], best[2]
