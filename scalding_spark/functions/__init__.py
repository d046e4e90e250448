"""Scalar/extension function layer.

The reference has no built-in scalar function library — every map/filter is a
host-language lambda (SURVEY.md §2.8). This engine's scalar layer IS
``pyspark.sql.functions``; these modules add what Spark lacks:

- ``dates``       DateRange/Duration/Globifier algebra (scalding-date parity).
- ``text``        tokenization, language id, quality scoring (heuristic +
                  logistic model), fingerprinting, PII redaction, repetition
                  stats, context-window chunking.
- ``dedup``       exact + MinHash-LSH + SimHash + n-gram-Jaccard dedup,
                  span-level shared-passage detection, connected-components
                  near-dup clustering (large/small-star),
                  batch near-dup gate vs a signature-only store
                  (neardup_against), snapshot diff audit (corpus_diff),
                  per-benchmark-item contamination_report.
- ``similarity``  embedding cosine top-k (brute force + LSH + IVF ANN),
                  exact/LSH near-dup, distributed k-means, SemDeDup
                  semantic dedup, semantic benchmark decontamination.
- ``sampling``    deterministic md5-range sampling: reproducible samples,
                  train/val/test splits (incl. dedup-cluster-keyed
                  leakage_safe_split), per-stratum fractions, per-key caps,
                  budgeted shard packing (doubles as training-sequence
                  packing over chunk token counts).
- ``lm``          self-trained unigram/bigram LM document scoring
                  (perplexity-proxy quality filter).
- ``retrieval``   Okapi BM25 ranked top-k search over a corpus.
- ``multimodal``  opaque binary columns with typed metadata (decode stubs).
- ``bloom``       expression-only distributed Bloom filter + exact
                  bloom-prefiltered semi/anti/inner joins (the 100 TB
                  shuffle reducer for incremental dedup and key lookups).

- ``web``         URL host / registrable-domain extraction, canonical
                  URL dedup keys, and broadcast blocklist filtering
                  (web-corpus curation).
- ``evaluation``  classifier audit at corpus scale (r08): exact
                  tie-corrected ROC-AUC + KS (global and per-slice),
                  calibration bins, confusion/threshold sweeps — all
                  exact-integer/decimal accumulation, one final division.

r03 additions inside existing modules: text.gopher_signals/gopher_pass
(integer-band quality gate), text.ngrams/top_ngram_fraction (repetition),
text.collocations (PMI), text.corpus_stats, text.char_entropy,
dedup.select_representatives (keep-best cluster keeper), dedup.cut_spans
(span cut pass), dedup.lsh_plan (banding calibration),
similarity.semantic_dedup (SemDeDup), lm.perplexity_buckets (CCNet
head/middle/tail), lm.corpus_divergence (domain-shift KL),
sampling.top_fraction (exact global quantile cut).
"""
