"""``verify_local.py --changed``: the diff-to-query map must see every
import form, or an edited operator skips its oracles (a false green)."""

from __future__ import annotations

import verify_local
from tsmp_spark.queries import QUERIES


def test_parenthesized_package_import_is_seen():
    # q_pipeline_e2e imports its operators in a parenthesized block
    assert {"operators.dedup", "operators.text", "operators.tokens"} <= (
        verify_local._query_modules(QUERIES["pipeline_e2e"])
    )


def test_helper_imports_are_followed():
    # q_mp_retention reaches matrix_profile only through the _profile helper
    assert "operators.matrix_profile" in verify_local._query_modules(QUERIES["mp_retention"])


def test_importing_modules_are_affected():
    # tokens.py imports dedup.py at module level
    assert "operators.tokens" in verify_local._importers({"operators.dedup"})


def test_entry_module_selects_full_sweep():
    # __spark_entry__.py wraps every query and oracle
    assert verify_local.affected_queries(["__spark_entry__.py"]) is None
    assert verify_local.affected_queries(["tsmp_spark/mpcore/mpx.py"]) is None


def test_files_outside_the_engine_select_nothing():
    assert verify_local.affected_queries(
        ["tests/test_plans.py", "submit_job.py", "README.md"]
    ) == set()


def test_operator_module_selects_its_queries():
    sel = verify_local.affected_queries(["tsmp_spark/operators/rollup.py"])
    assert {"mp_rollup_tier1", "mp_rollup_tier2"} <= sel
    assert "minhash_sig" not in sel
