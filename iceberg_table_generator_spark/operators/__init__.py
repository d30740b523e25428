"""Operator modules — importing this package registers every query.

Module map (r13 verdict #8).  Thematic modules are named by subject;
`wave8`–`wave19` are named by the ROUND that added them, so a FAMILY can
span several wave modules — the per-family trails are listed after the
map.  Wave modules are regrouped by domain one slice at a time; the text
and similarity slices are done (every `text_*` query outside `corpus` is
in `text`, every `similarity_*` query in `similarity`, every `meta_*`
query in `metadata_tables`; tests/test_domain_modules.py holds the line).
The generated REGISTRY.md maps every query → module:line; this is the
inverse: what a module is FOR.

Thematic modules:
  relational / relational_ext / scalar_ext — TPC-H core shapes, windows,
    event-time, scalar/string/date/json packs
  tpch_ext    — the remaining TPC-H queries (full 22/22 with tpch core)
  dedup       — exact + near-dup (MinHash-LSH, SimHash, n-gram) batch dedup
  similarity  — exact cosine gold, LSH/IVF/PQ ladder, k-means fits, MMR,
    embedding-space and index audits, and the ANN evaluation family:
    recall@k of every arm on one kernel (`recall_at_k`/`RECALL_AT_K_SQL`),
    the nDCG/MRR evaluator (`ranking_quality`), RRF fusion, and the
    compression frontier
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
  metadata_tables — snapshots/files/history/refs relations, the
    ExpireSnapshots plan and its retention sweep

Wave modules (by round):
  wave8   ABC/skyline/link-prediction, global exact quantiles
  wave9   span dedup, Lorenz/Gini, rank statistics
  wave10  span islands, frame SimHash/motion, drift audits
  wave11  SemDeDup core, span decontamination, mixing weights
  wave12  DSIR, incremental SemDeDup, Markov attribution
  wave13  per-language SemDeDup
  wave14  Gopher rules, UniMax, band sweep
  wave16  dedup tier-overlap Venn, text↔embedding alignment
  wave17  source-ablation matrix
  wave18  quality ablation curve, (lang, τ) SemDeDup sweep
  wave19  Gopher × CCNet filter agreement, cross-source contamination,
          MinHash growth probe

Family trails across waves:
  SemDeDup:       wave11 (core) → wave12 (incremental) → wave13
                  (per-language) → wave18 ((lang, τ) sweep)
  ANN evaluation: similarity alone (gold, arms, recall@k, nDCG/MRR,
                  RRF, frontier); text reuses `similarity.ranking_quality`
                  for the BM25 cascade
  Quality filters: wave14 (Gopher rules) + text (CCNet buckets) → wave19
                  (agreement matrix)
  Snapshot expiry: metadata_tables alone (relations, plan + sweep)
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
    wave16,
    wave17,
    wave18,
    wave19,
    wide,
    zorder,
)
