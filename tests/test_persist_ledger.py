"""Ratchet on the persists and eager pins of the operators.

A persist writes a relation's blocks and an eager pin (a ``.count()``
whose result is thrown away) runs a job while the query is still being
built.  Each is worth it only where a measurement shows that the relation
would otherwise be computed again; where one was taken away, the plan
read its input once and ran fewer jobs.  This suite holds every such site
left in ``operators/`` as a literal (module, function) ledger and only
lets it shrink.

A site is a reference to ``persist_tracked`` (a call, or a function handed
to ``.transform``), a ``memo_relation(…, eager=True)`` call, or a
``.count()`` call used as a statement.  Sites are counted per top-level
function (``Class.method`` for methods).  The suite fails on a site that
is not in ``LEDGER``, and on a listed one that no longer occurs, so a
change that removes one must also strike it here.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

OPERATORS_DIR = (
    Path(__file__).resolve().parent.parent / "iceberg_table_generator_spark" / "operators"
)

#: (module, function) -> number of persist / eager-pin sites in it.
LEDGER: dict[tuple[str, str], int] = {
    ("corpus", "text_ngram_coverage"): 1,
    ("corpus", "text_zipf_check"): 1,
    ("dedup", "dedup_embedding_cosine"): 1,
    ("dedup", "dedup_minhash_error_audit"): 1,
    ("dedup", "dedup_ngram_containment"): 1,
    ("dedup", "dedup_ngram_jaccard"): 1,
    ("dedup", "dedup_prefix_filter_join"): 2,
    ("dedup", "dedup_simhash"): 1,
    ("dedup", "minhash_band_keys"): 1,
    ("graph", "events_modularity"): 1,
    ("graph", "events_two_hop_reach"): 1,
    ("heavyhitters", "heavyhitters_cms_audit"): 2,
    ("mining", "basket_part_triples"): 2,
    ("mining", "orders_autocorrelation"): 1,
    ("mining", "orders_ewma_forecast"): 1,
    ("mining", "orders_forecast_mase"): 1,
    ("mining", "orders_open_backlog"): 1,
    ("mining", "orders_yoy_growth"): 1,
    ("mining", "pareto_revenue_concentration"): 1,
    ("mining", "rfm_segments"): 1,
    ("mining", "stats_kendall_tau"): 1,
    ("mining", "stats_runs_test"): 2,
    ("mining", "stats_spearman_rho"): 1,
    ("mining", "stats_theil_sen_trend"): 1,
    ("mining", "supplier_scorecard"): 1,
    ("multimodal", "multimodal_chunk_dedup"): 1,
    ("pipeline", "pipeline_contamination_check"): 1,
    ("sequences", "events_audience_overlap"): 1,
    ("sequences", "events_cooccurrence_lift"): 1,
    ("sequences", "events_mad_anomaly"): 1,
    ("sequences", "events_markov_transitions"): 1,
    ("sequences", "events_trigram_patterns"): 1,
    ("sequences", "stats_jackknife_loo_mean"): 1,
    ("similarity", "cosine_topk_gold_pinned"): 1,
    ("similarity", "similarity_cos_pair_hist"): 1,
    ("similarity", "similarity_ivf_nprobe_recall"): 1,
    ("similarity", "similarity_ivfpq_recall"): 1,
    ("similarity", "similarity_triplet_mining"): 1,
    ("text", "char_lnp_terms"): 1,
    ("text", "keyness_scored_terms"): 1,
    ("text", "text_bigram_logloss"): 2,
    ("text", "text_cooccurrence_strength"): 1,
    ("text", "text_duplication_vs_length"): 1,
    ("text", "text_novelty_rate"): 1,
    ("text", "text_phrase_search"): 1,
    ("text", "text_source_hellinger"): 1,
    ("text", "text_source_unigram_tv"): 1,
    ("text", "text_tfidf_topk"): 1,
    ("text", "text_typo_pairs"): 1,
    ("text", "text_vocab_growth"): 1,
    ("text", "unigram_lnp_terms"): 1,
    ("tpch_ext", "q21_waiting_suppliers"): 1,
    ("wave10", "_span_islands"): 1,
    ("wave10", "customer_hoover_index"): 1,
    ("wave10", "multimodal_feature_simhash_dedup"): 1,
    ("wave10", "orders_priority_mix_drift"): 1,
    ("wave10", "pipeline_dedup_roi_curve"): 1,
    ("wave10", "pipeline_quality_dedup_matrix"): 2,
    ("wave10", "stats_page_trend"): 1,
    ("wave10", "stats_siegel_tukey"): 1,
    ("wave11", "_decon_islands"): 1,
    ("wave11", "pipeline_source_mixing_weights"): 1,
    ("wave11", "semdedup_relation"): 1,
    ("wave12", "dsir_bucket_lambdas"): 1,
    ("wave14", "dedup_minhash_band_sweep"): 6,
    ("wave9", "events_session_depth_funnel"): 1,
    ("wave9", "events_time_to_first_purchase"): 1,
    ("wave9", "orders_cohort_retention"): 2,
    ("wave9", "orders_rfm_migration"): 2,
    ("wave9", "pipeline_dup_by_source"): 1,
    ("wave9", "stats_friedman_test"): 1,
    ("wave9", "stats_kruskal_wallis"): 1,
    ("wave9", "stats_wilcoxon_signed_rank"): 2,
}


def _is_site(node: ast.AST) -> bool:
    if isinstance(node, ast.Name) and node.id == "persist_tracked":
        return isinstance(node.ctx, ast.Load)
    if not isinstance(node, ast.Call):
        return False
    func = node.func
    if isinstance(func, ast.Name) and func.id == "memo_relation":
        return any(
            k.arg == "eager" and isinstance(k.value, ast.Constant) and k.value.value is True
            for k in node.keywords
        )
    return False


def _is_pin(stmt: ast.AST) -> bool:
    """A ``.count()`` whose result is dropped: a job run for its side effect."""
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Call)
        and isinstance(stmt.value.func, ast.Attribute)
        and stmt.value.func.attr == "count"
        and not stmt.value.args
        and not stmt.value.keywords
    )


def ledger_sites(source: str, module: str) -> Counter:
    """(module, function) -> persist and eager-pin sites in `source`."""
    sites: Counter = Counter()

    def scan(node: ast.AST, where: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = where or child.name
                if where and isinstance(node, ast.ClassDef):
                    inner = f"{where}.{child.name}"
                scan(child, inner)
                continue
            if _is_site(child) or _is_pin(child):
                sites[(module, where or "<module>")] += 1
            scan(child, where)

    scan(ast.parse(source), "")
    return sites


def operator_sites() -> Counter:
    sites: Counter = Counter()
    for path in sorted(OPERATORS_DIR.glob("*.py")):
        sites += ledger_sites(path.read_text(), path.stem)
    return sites


def test_ledger_sees_every_kind_of_site():
    source = (
        "from x import persist_tracked, memo_relation\n"
        "def q(df):\n"
        "    a = persist_tracked(df)\n"
        "    a.count()\n"
        "    n = a.count()\n"
        "    b = df.transform(persist_tracked)\n"
        "    def inner():\n"
        "        return memo_relation(('k',), lambda: df, eager=True)\n"
        "    memo_relation(('k',), lambda: df)\n"
        "    return a.groupBy('k').count()\n"
        "class C:\n"
        "    def m(self, df):\n"
        "        df.count()\n"
        "other = persist_tracked\n"
    )
    assert ledger_sites(source, "m") == Counter(
        {("m", "q"): 4, ("m", "C.m"): 1, ("m", "<module>"): 1}
    )


def test_persists_and_pins_only_shrink():
    found = operator_sites()
    new = sorted(
        (site, n, LEDGER.get(site, 0)) for site, n in found.items() if n > LEDGER.get(site, 0)
    )
    gone = sorted(
        (site, found.get(site, 0), n) for site, n in LEDGER.items() if found.get(site, 0) < n
    )
    assert not new, (
        "new persist or eager-pin sites (site, found, listed); measure that the "
        "relation is recomputed without it, then list it:\n" + "\n".join(map(str, new))
    )
    assert not gone, (
        "these sites are gone (site, found, listed); lower or strike them in "
        "LEDGER so it stays a ratchet:\n" + "\n".join(map(str, gone))
    )
