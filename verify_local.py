"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry at sf0.01 and compare against its ``oracle_sql()``
via DuckDB — row count, column names, and order-insensitive value hash.

Usage: python verify_local.py [--dataset DIR] [--json OUT.json]
                              [--changed [GIT_REF]] [query ...]

``--dataset`` points the sweep at another parquet directory (e.g. the
adversarial set from make_adversarial_testdata.py, or sf0.001);
``--json`` additionally writes a CORRECTNESS-style per-query artifact so
the triple sweep (sf0.01 + sf0.001 + adversarial) is auditable without
re-running — see CORRECTNESS_ADV_r04.json.

``--changed [GIT_REF]`` (CI mode) re-gates only the queries affected by
the working-tree diff against GIT_REF (default HEAD): changed
``tsmp_spark/{operators,streaming,codecs}/X.py`` modules, plus every
module there that imports them, map to the registry entries whose source
(or the queries-module helpers it calls) imports them. A change to
``__spark_entry__.py`` or anywhere else in ``tsmp_spark/`` (mpcore,
queries.py, plans, api) falls back to the FULL sweep — mpcore edits also
require the reference-golden suite (tests/test_reference_goldens.py),
which this harness reminds you of but does not run. Changes only to
other files (tests, scripts, docs) select nothing.
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from tsmp_spark.operators.cache import release_caches
from tsmp_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(df: pd.DataFrame) -> int:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        if d[c].dtype == object:
            d[c] = d[c].astype(str)
    rows = sorted(map(tuple, d.astype(str).itertuples(index=False, name=None)))
    return hash(tuple(rows))


def run(sf_dir: str | None = None, only: set[str] | None = None,
        spark=None) -> tuple[int, dict]:
    """Sweep the registry against the oracles at ``sf_dir``.

    Returns (exit_code, results) where results is a CORRECTNESS-style
    dict: {name: {rows_match, schema_match, hash_match, spark_rows,
    oracle_rows, sec, err}}.
    """
    sf_dir = sf_dir or SF_DIR
    only = only or set()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    if spark is None:
        spark = get_spark(cpus=16)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "sec": None, "err": None}
        results[name] = rec
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            rec["err"] = f"spark error: {e}"
            print(f"FAIL {name}: spark error: {e}")
            continue
        finally:
            release_caches()  # drop operator-pinned intermediates per query
        rec["spark_rows"] = len(got)
        rec["sec"] = round(time.time() - t0, 1)
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows, {time.time()-t0:.1f}s)")
            if len(got) == 0:
                failures.append(name)
                rec["err"] = "0 rows (rows-only query)"
                print(f"FAIL {name}: 0 rows")
            else:
                rec["rows_match"] = True
                rec["err"] = "rows-only (no oracle)"
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            rec["err"] = f"oracle error: {e}"
            print(f"FAIL {name}: oracle error: {e}")
            continue
        rec["oracle_rows"] = len(exp)
        ok = True
        if len(got) != len(exp):
            ok = False
            print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}")
        elif sorted(got.columns) != sorted(exp.columns):
            ok = False
            rec["rows_match"] = True
            print(f"FAIL {name}: cols spark={sorted(got.columns)} oracle={sorted(exp.columns)}")
        elif value_hash(got) != value_hash(exp):
            ok = False
            rec["rows_match"] = rec["schema_match"] = True
            print(f"FAIL {name}: value hash mismatch")
            cols = sorted(got.columns)
            g = got.sort_values(cols).reset_index(drop=True)
            e = exp.sort_values(cols).reset_index(drop=True)
            for c in cols:
                same = (g[c].astype(str) == e[c].astype(str)).all()
                if not same:
                    diffmask = g[c].astype(str) != e[c].astype(str)
                    print(f"  col {c}: {diffmask.sum()} diffs")
                    print(pd.concat([g[diffmask].head(3), e[diffmask].head(3)], axis=1))
        if ok:
            rec["rows_match"] = rec["schema_match"] = rec["hash_match"] = True
            print(f"ok   {name}: {len(got)} rows match ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)

    print()
    if failures:
        print("FAILURES:", failures)
        return 1, results
    print("all queries match")
    return 0, results


_ROOTS = ("operators", "streaming", "codecs")


def _imports(tree, package: tuple[str, ...]) -> set[str]:
    """``root.module`` names under tsmp_spark.{operators,streaming,codecs}
    that the relative ``from ... import`` statements in ``tree`` (parsed in
    package ``tsmp_spark.<package>``) import — parenthesized or not.
    Package-level re-exports resolve through the attribute's ``__module__``."""
    import ast
    import importlib

    found: set[str] = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level == 0:
            continue
        base = package[: len(package) - (node.level - 1)]
        full = base + tuple(node.module.split(".") if node.module else ())
        if not full or full[0] not in _ROOTS:
            continue
        if len(full) > 1:
            found.add(f"{full[0]}.{full[1]}")
            continue
        pkg = importlib.import_module(f"tsmp_spark.{full[0]}")
        for alias in node.names:
            obj = getattr(pkg, alias.name, None)
            mod = getattr(obj, "__module__", None) or getattr(obj, "__name__", "")
            if mod.startswith("tsmp_spark."):
                found.add(".".join(mod.split(".")[1:3]))
    return found


def _query_modules(fn, seen: set | None = None) -> set[str]:
    """Modules under tsmp_spark.{operators,streaming,codecs} a registry
    callable imports, including through the module-level helpers of its
    own module that it calls (``_profile``, ``_sequences``, ...)."""
    import ast
    import inspect
    import textwrap

    seen = set() if seen is None else seen
    seen.add(fn)
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError):
        return set()
    found = _imports(tree, ())
    for node in ast.walk(tree):
        helper = fn.__globals__.get(node.id) if isinstance(node, ast.Name) else None
        if (inspect.isfunction(helper) and helper.__module__ == fn.__module__
                and helper not in seen):
            found |= _query_modules(helper, seen)
    return found


def _importers(mods: set[str]) -> set[str]:
    """``mods`` plus every module under the mapped roots that imports one
    of them, transitively (tokens.py imports dedup.py, so a dedup.py edit
    re-gates the token queries too)."""
    import ast
    import glob
    import os

    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tsmp_spark")
    deps = {}
    for root in _ROOTS:
        for path in glob.glob(os.path.join(pkg_dir, root, "*.py")):
            name = os.path.basename(path)[:-3]
            if name != "__init__":
                with open(path) as f:
                    deps[f"{root}.{name}"] = _imports(ast.parse(f.read()), (root,))
    out = set(mods)
    while True:
        more = {m for m, d in deps.items() if d & out} - out
        if not more:
            return out
        out |= more


def affected_queries(files: list[str]) -> set[str] | None:
    """Queries affected by a change to ``files`` (repo-relative paths).

    Returns None for "run the full sweep" (a change to ``__spark_entry__.py``,
    which wraps every query and oracle, or outside the mapped module roots
    — mpcore, queries.py, plans, api — affects oracles or shared kernels
    whose blast radius the import map can't bound), or the (possibly
    empty) affected-name set otherwise.
    """
    mods: set[str] = set()
    for f in files:
        if not f.endswith(".py"):
            continue
        parts = f.split("/")
        if (len(parts) == 3 and parts[0] == "tsmp_spark"
                and parts[1] in _ROOTS and parts[2] != "__init__.py"):
            mods.add(f"{parts[1]}.{parts[2][:-3]}")
        elif f == "__spark_entry__.py" or f.startswith("tsmp_spark/"):
            print(f"--changed: {f} outside the mapped roots -> FULL sweep")
            if "mpcore" in f:
                print("  (mpcore touched: also run "
                      "tests/test_reference_goldens.py — exact assertions)")
            return None
    if not mods:
        return set()
    # the RAW registry (entry_mod.queries() wraps each callable in a UTC
    # shim whose source hides the imports)
    from tsmp_spark.queries import QUERIES as raw_queries
    affected = _importers(mods)
    sel = {n for n, fn in raw_queries.items() if _query_modules(fn) & affected}
    print(f"--changed: modules {sorted(mods)} (with importers {sorted(affected)}) "
          f"-> {len(sel)} queries")
    return sel


def changed_queries(ref: str = "HEAD") -> set[str] | None:
    """:func:`affected_queries` of the git diff vs ``ref``."""
    import subprocess

    files = subprocess.check_output(
        ["git", "diff", "--name-only", ref, "--"], text=True
    ).split()
    return affected_queries(files)


def main() -> int:
    args = sys.argv[1:]
    sf_dir, json_out = None, None
    names: set[str] = set()
    changed_ref = None
    i = 0
    while i < len(args):
        if args[i] == "--dataset":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--json":
            json_out = args[i + 1]
            i += 2
        elif args[i] == "--changed":
            if i + 1 < len(args) and not args[i + 1].startswith("--"):
                changed_ref = args[i + 1]
                i += 2
            else:
                changed_ref = "HEAD"
                i += 1
        else:
            names.add(args[i])
            i += 1
    if changed_ref is not None:
        sel = changed_queries(changed_ref)
        if sel is not None:
            if not sel:
                print("--changed: no affected queries; nothing to do")
                return 0
            names |= sel
    rc, results = run(sf_dir=sf_dir, only=names)
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump({"dataset": sf_dir or SF_DIR, "results": results}, f,
                      indent=2)
        print(f"wrote {json_out}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
