"""Package-wide ratchet on cross-module private imports.

A `_`-prefixed name is its module's own business.  When another module
imports it, the two modules share an implementation detail with no public
contract, and the next change to one silently breaks the other.  Shared
helpers become public names in the module that keeps them; this suite
holds the cross-module private imports that remain and only lets the list
shrink.

The count is the AST's: every ``ImportFrom`` in the package, function-local
ones included, of a ``_``-prefixed, non-dunder name from another package
module.  The suite fails on an (importer, source, name) triple that is not
in ``ALLOWED``, and on an allowed triple that no longer occurs, so a change
that removes one must also strike it here.  Tests are exempt.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE_DIR = Path(__file__).resolve().parent.parent / "iceberg_table_generator_spark"
PACKAGE = PACKAGE_DIR.name

#: (importer, source) -> the private names it still imports, both modules
#: named relative to the package.
ALLOWED: dict[tuple[str, str], set[str]] = {
    ("operators.heavyhitters", "streaming.heavyhitters"): {"_mg_update"},
    ("operators.incremental", "operators.metadata_tables"): {"_value_fixture_table"},
    ("operators.pipeline", "operators.text"): {"_sql_list"},
    ("operators.sequences", "operators.graph"): {"_round6_half_up"},
    ("operators.wave10", "operators.wave9"): {"_span_positions", "_sql_span_groups"},
    ("operators.wave11", "operators.wave9"): {"_span_positions", "_sql_span_groups"},
    ("operators.wave12", "operators.pipeline"): {"_PII_EMAIL", "_PII_IP", "_PII_PHONE"},
    ("operators.wave12", "operators.wave11"): {"_semdedup_dropped"},
    ("operators.wave13", "operators.wave11"): {
        "_semdedup_dropped",
        "_semdedup_prior_pairs",
        "_semdedup_shadow_oracle",
    },
    ("operators.wave14", "operators.dedup"): {"_band_fold"},
    ("operators.wave16", "operators.dedup"): {"_MINHASH_ORACLE"},
    ("operators.wave16", "operators.wave11"): {"_semdedup_prior_pairs"},
    ("operators.wave18", "operators.wave11"): {
        "_TAU_VALUES_SQL",
        "_semdedup_prior_pairs",
    },
    ("operators.wave18", "operators.wave13"): {"_lang_of_vec"},
    ("operators.wave18", "operators.wave14"): {"_sql_rule_flags"},
    ("operators.wave19", "operators.dedup"): {"_MINHASH_ORACLE"},
    ("operators.wave19", "operators.wave14"): {"_sql_rule_flags"},
    ("operators.wave8", "operators.mining"): {"_TOP2_LANGS_CTES", "_top2_lang_dist"},
    ("operators.wide", "operators.metadata_tables"): {"_build_once"},
}


def private_imports(source: str, module: str) -> set[tuple[str, str, str]]:
    """(importer, source, name) for each private name `module` imports from
    another package module."""
    found = set()
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.ImportFrom):
            continue
        src = node.module or ""
        if not src.startswith(PACKAGE + "."):
            continue
        src = src[len(PACKAGE) + 1 :]
        if src == module:
            continue
        found |= {
            (module, src, a.name)
            for a in node.names
            if a.name.startswith("_") and not a.name.startswith("__")
        }
    return found


def package_private_imports() -> set[tuple[str, str, str]]:
    found = set()
    for path in sorted(PACKAGE_DIR.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE_DIR).with_suffix("").parts)
        found |= private_imports(path.read_text(), module)
    return found


def test_ratchet_sees_private_imports():
    source = (
        "from iceberg_table_generator_spark.operators.dedup import MH_P, _band_fold\n"
        "def f():\n"
        "    from iceberg_table_generator_spark.operators.similarity import (\n"
        "        _VEC_DIM, __doc__, ivf_fit)\n"
        "    from iceberg_table_generator_spark.operators.graph import _own\n"
        "from pyspark.sql.functions import _invoke_function\n"
    )
    assert private_imports(source, "operators.graph") == {
        ("operators.graph", "operators.dedup", "_band_fold"),
        ("operators.graph", "operators.similarity", "_VEC_DIM"),
    }


def test_private_imports_only_shrink():
    allowed = {(i, s, n) for (i, s), names in ALLOWED.items() for n in names}
    found = package_private_imports()
    new = sorted(found - allowed)
    gone = sorted(allowed - found)
    assert not new, (
        "new cross-module private imports; make the shared name public in "
        "the module that keeps it:\n" + "\n".join(map(str, new))
    )
    assert not gone, (
        "these private imports are gone; strike them from ALLOWED so the "
        "list stays a ratchet:\n" + "\n".join(map(str, gone))
    )


def test_no_module_takes_a_private_similarity_name():
    """The similarity domain shares its kernels under public names."""
    assert not [k for k in ALLOWED if k[1] == "operators.similarity"]
