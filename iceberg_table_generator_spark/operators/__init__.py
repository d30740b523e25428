"""Operator modules — importing this package registers every query.

Module map (r13 verdict #8).  Thematic modules are named by subject;
`wave8`–`wave19` are named by the ROUND that added them, so a FAMILY can
span several wave modules — the per-family trails are listed after the
map.  Wave modules are regrouped by domain one slice at a time; the text
slice is done (every `text_*` query outside `corpus` is in `text`).  The
generated REGISTRY.md maps every query → module:line; this is the
inverse: what a module is FOR.

Thematic modules:
  relational / relational_ext / scalar_ext — TPC-H core shapes, windows,
    event-time, scalar/string/date/json packs
  tpch_ext    — the remaining TPC-H queries (full 22/22 with tpch core)
  dedup       — exact + near-dup (MinHash-LSH, SimHash, n-gram) batch dedup
  similarity  — exact cosine gold, LSH/IVF/PQ ladder, k-means fits, MMR
  text        — the text domain: language-ID, quality, TF-IDF/BM25 and its
    nDCG/MRR cascade, token accounting, lexical diversity, vocabulary
    overlap/drift matrices, unigram/bigram-LM logloss, CCNet buckets,
    subword fertility, engine-exact BPE merges
  corpus / mining / sequences / graph — corpus stats, frequent patterns,
    event sequences, graph centralities/structure
  pipeline    — curation: chunking, sampling, packing, cascades, audits
  incremental — IVM maintenance (agg/join/distinct/topk/minmax/SCD2)
  heavyhitters / skew / wide / zorder / multimodal — sketches, salted
    joins, 1000-col folds, space-filling curves, binary payloads
  metadata_tables — snapshots/files/history/refs relations + expiry plans

Wave modules (by round):
  wave8   ABC/skyline/link-prediction, global exact quantiles
  wave9   span dedup, Lorenz/Gini, rank statistics
  wave10  span islands, frame SimHash/motion, drift audits
  wave11  SemDeDup core, span decontamination, IVF nprobe, mixing weights
  wave12  DSIR, SQ8 recall, incremental SemDeDup, Markov attribution
  wave13  per-language SemDeDup, nDCG/MRR evaluator (`ranking_quality`)
  wave14  Gopher rules, UniMax, BQ + Matryoshka recall, band sweep
  wave15  RRF fusion, ExpireSnapshots plan + retention sweep
  wave16  IVF+PQ recall, dedup tier-overlap Venn, text↔embedding alignment
  wave17  compression frontier, source-ablation matrix
  wave18  quality ablation curve, (lang, τ) SemDeDup sweep, BQ+rerank
  wave19  Gopher × CCNet filter agreement, cross-source contamination,
          MinHash growth probe

Family trails across waves:
  SemDeDup:       wave11 (core) → wave12 (incremental) → wave13
                  (per-language) → wave18 ((lang, τ) sweep)
  ANN evaluation: similarity (gold, recall) → wave13 (nDCG/MRR) →
                  wave14/16/18 (BQ/MRL, IVF+PQ, rerank arms) → wave15
                  (RRF) → wave17 (frontier summary); text reuses the
                  wave13 evaluator for the BM25 cascade
  Quality filters: wave14 (Gopher rules) + text (CCNet buckets) → wave19
                  (agreement matrix)
  Snapshot expiry: metadata_tables (relations) → wave15 (plan + sweep)
"""

from iceberg_table_generator_spark.operators import (  # noqa: F401
    corpus,
    dedup,
    graph,
    heavyhitters,
    incremental,
    metadata_tables,
    mining,
    multimodal,
    pipeline,
    relational,
    relational_ext,
    scalar_ext,
    sequences,
    similarity,
    skew,
    text,
    tpch_ext,
    wave8,
    wave9,
    wave10,
    wave11,
    wave12,
    wave13,
    wave14,
    wave15,
    wave16,
    wave17,
    wave18,
    wave19,
    wide,
    zorder,
)
