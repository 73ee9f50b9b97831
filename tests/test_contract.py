"""Whole-contract guards: every registered key must (a) build and
analyze a Spark plan and (b) ship a DuckDB-parseable oracle. These run
in seconds (no execution) and catch drift — a renamed column, a broken
import, a SQL typo — long before the full oracle harness would."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flinkproj_spark import registry
from flinkproj_spark.sources.tables import register_oracle_views


def test_every_query_key_analyzes(spark, sf_dir):
    """Force Catalyst analysis (not execution) of every key's plan."""
    failures = {}
    for key, fn in registry.queries().items():
        try:
            df = fn(spark, sf_dir)
            df.schema  # triggers analysis
        except Exception as e:  # noqa: BLE001 — collecting all failures
            failures[key] = repr(e)[:200]
    assert not failures, failures


def test_every_oracle_sql_parses(sf_dir):
    """EXPLAIN every oracle statement against the real table schemas."""
    con = duckdb.connect()
    register_oracle_views(con, sf_dir)
    failures = {}
    for key, sql in registry.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            failures[key] = repr(e)[:200]
    assert not failures, failures


def test_oracle_keys_subset_of_queries():
    q, o = registry.queries(), registry.oracle_sql()
    assert set(o) <= set(q)
    rows_only = set(q) - set(o)
    # rows-only keys must stay an explicit, named set — additions here
    # need a justification (sketches / non-SQL-expressible only). Since
    # round 10 the set is EMPTY: the two sketch keys were re-shaped into
    # the self-auditing audit-twin pattern (exact anchor + within-band
    # verdict the oracle pins to 1), so every registered key is oracled.
    assert rows_only == set()


def test_cli_list_and_oracle(capsys, sf_dir):
    from flinkproj_spark.__main__ import main

    assert main(["list", "--filter", "tpch_q6"]) == 0
    out = capsys.readouterr().out
    assert "tpch_q6\toracle" in out
    assert main(["oracle", "tpch_q6", "--sf-dir", sf_dir]) == 0
    assert "revenue" in capsys.readouterr().out
    assert main(["run", "definitely_not_a_key"]) == 2


def test_query_count_matches_readme():
    import re
    from pathlib import Path

    readme = Path(__file__).resolve().parent.parent / "README.md"
    m = re.search(r"\*\*(\d+) registered query keys\*\*", readme.read_text())
    assert m, "README coverage bullet missing"
    assert int(m.group(1)) == len(registry.queries()), (
        "README key count drifted from registry — update the Coverage section"
    )


def test_funnel_v3_counts_equal_pipeline_outputs(spark, sf_dir):
    """The funnel-wide invariant (observability twin of the rollup
    merge-equals-recompute pin): filter_funnel_v3's stage counts must
    equal the pipeline keys' own output row counts — if the report
    and the pipelines ever computed different funnels, this breaks."""
    from flinkproj_spark.operators.e2e import (
        filter_funnel_v3,
        pipeline_curate,
        pipeline_curate_v2,
        pipeline_curate_v3,
    )

    row = filter_funnel_v3(spark, sf_dir).collect()[0]
    spark.catalog.clearCache()
    assert row.n_after_neardup == pipeline_curate(spark, sf_dir).count()
    assert row.n_after_semantic == pipeline_curate_v2(spark, sf_dir).count()
    assert row.n_after_decontam == pipeline_curate_v3(spark, sf_dir).count()
    # the funnel is monotone by construction; prove the stages are live
    assert row.n_total >= row.n_gated >= row.n_exact >= row.n_after_neardup
    assert row.n_after_neardup >= row.n_after_decontam
    assert row.n_gated < row.n_total
    assert row.n_after_decontam > 0
    spark.catalog.clearCache()


def test_decontaminate_output_is_doc_unique(spark, sf_dir):
    """filter_funnel_v3 folds its drop sets as left-join flags, which is
    exact only while every drop set is doc-unique; `contaminated` comes
    straight from decontaminate with no distinct(), so a duplicate
    doc_id there would inflate the funnel counters instead of failing."""
    from flinkproj_spark.operators.dedup import decontaminate

    out = decontaminate(spark, sf_dir)
    n, n_docs = out.agg(F.count("*"), F.countDistinct("doc_id")).collect()[0]
    assert n == n_docs and n > 0
    assert out.filter(F.col("contaminated")).count() > 0  # the flag is live


def test_attribution_last_touch_equals_asof_join(spark, sf_dir):
    """Cross-key invariant: the last-touch column of the multi-model
    attribution key must equal asof_join's match for every purchase —
    two formulations of one model can never drift."""
    from flinkproj_spark.operators.relational import asof_join, attribution_first_last

    last = {
        r.purchase_id: r.last_touch_id
        for r in attribution_first_last(spark, sf_dir).collect()
    }
    asof = {r.purchase_id: r.touch_id for r in asof_join(spark, sf_dir).collect()}
    assert last == asof and len(last) > 0


def test_detokenize_roundtrip_fidelity(spark, sf_dir):
    """The tokenizer's shipping invariant: decode(encode(x)) is EXACT
    on every OOV-free document, and on lossy documents the damage never
    exceeds the OOV positions (each OOV symbol is one character wide).
    Both populations must be live or the audit proves nothing."""
    from flinkproj_spark.operators.text import detokenize_roundtrip

    rows = detokenize_roundtrip(spark, sf_dir).collect()
    clean = [r for r in rows if r.n_oov == 0]
    lossy = [r for r in rows if r.n_oov > 0]
    assert clean and lossy, (len(clean), len(lossy))
    assert all(r.exact_match == 1 and r.char_diff == 0 for r in clean)
    assert all(r.exact_match == 0 and 0 < r.char_diff <= r.n_oov for r in lossy)


def test_catalog_is_current():
    """CATALOG.md must list exactly the registered keys — regenerate
    with tools/gen_catalog.py after adding operators."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parent.parent / "CATALOG.md").read_text()
    listed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    assert listed == set(registry.queries()), (
        sorted(listed ^ set(registry.queries()))
    )
    # pin the 5-column ledger format so a stale pre-ledger CATALOG.md
    # (no "last green" column) fails even when the key set matches
    assert "| key | module | check | last green | what |" in text


def test_priority_window_is_mechanical():
    """_PRIORITY_KEYS must equal tools/gen_catalog.expected_window():
    never-driver-green keys first, then stalest-green, from the
    git-tracked CORRECTNESS_r*.json ledger. A hand-stale copy (e.g.
    after a new CORRECTNESS file lands or a key is added) fails here —
    regenerate with `python tools/gen_catalog.py --window`."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import gen_catalog

    assert tuple(registry._PRIORITY_KEYS) == gen_catalog.expected_window(), (
        "stale _PRIORITY_KEYS — run `python tools/gen_catalog.py --window` "
        "and paste the result into flinkproj_spark/registry.py"
    )


def test_plan_lint_whitelist_is_live():
    """Every plan-lint whitelist entry must name a registered key and a
    real lint flag — dead entries would silently shrink the lint's
    coverage as keys are renamed."""
    from flinkproj_spark import registry
    from tools.plan_lint import WHITELIST

    keys = set(registry.queries())
    known_flags = {"CARTESIAN", "PY_ROW", "GLOBAL_SORT", "GLOBAL_WIN"}
    for k, flags in WHITELIST.items():
        assert k in keys, f"whitelisted key {k} not in registry"
        assert set(flags) <= known_flags, (k, flags)


def test_every_engine_definition_is_referenced():
    """Dead-code guard: every non-dunder top-level name the engine
    defines (a function, class or assigned name in flinkproj_spark/)
    is referenced — as a name, an attribute or an import — somewhere in
    flinkproj_spark/, tools/, deploy/, bench.py or tests/. A name that
    only its own definition mentions is unreached code: delete it. A
    package __init__.py re-export is not a use: it only names the
    definition again."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    engine = root / "flinkproj_spark"
    files = [root / "bench.py"] + [
        p for d in ("flinkproj_spark", "tools", "deploy", "tests")
        for p in sorted((root / d).rglob("*.py"))
    ]
    used: set[str] = set()
    defined: dict[str, str] = {}
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias) and path.name != "__init__.py":
                used.add(node.name.rsplit(".", 1)[-1])
        if not path.is_relative_to(engine):
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            else:
                continue
            for name in names:
                if not (name.startswith("__") and name.endswith("__")):
                    defined[name] = f"{path.relative_to(root)}:{node.lineno}"
    dead = sorted(f"{where} {name}" for name, where in defined.items() if name not in used)
    assert not dead, "unreferenced engine definitions:\n" + "\n".join(dead)


def test_only_the_table_loader_reads_corpus_files():
    """Every corpus read goes through load_table and its schema memo:
    no engine module but sources/tables.py builds a table path under an
    sf_dir — os.path.join(sf_dir, f"{name}.parquet") or an f-string
    with {sf_dir} followed by .parquet, also inside an SQL string: the
    DuckDB oracle views are registered by register_oracle_views."""
    import ast
    from pathlib import Path

    def is_sf_dir(node):
        return (isinstance(node, ast.Name) and node.id == "sf_dir") or (
            isinstance(node, ast.Attribute) and node.attr == "sf_dir")

    def ends_parquet(node):
        last = node.values[-1] if isinstance(node, ast.JoinedStr) and node.values else node
        return isinstance(last, ast.Constant) and str(last.value).endswith(".parquet")

    def embeds_table_path(node):
        after_sf_dir = False
        for v in node.values:
            if isinstance(v, ast.FormattedValue) and is_sf_dir(v.value):
                after_sf_dir = True
            elif after_sf_dir and isinstance(v, ast.Constant) and ".parquet" in str(v.value):
                return True
        return False

    def is_table_path(node):
        if isinstance(node, ast.Call) and ast.unparse(node.func) == "os.path.join":
            return bool(node.args) and is_sf_dir(node.args[0]) and ends_parquet(node.args[-1])
        return isinstance(node, ast.JoinedStr) and embeds_table_path(node)

    root = Path(__file__).resolve().parent.parent
    readers = {
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted((root / "flinkproj_spark").rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if is_table_path(node)
    }
    loader = {r for r in readers if r.startswith("flinkproj_spark/sources/tables.py:")}
    assert loader, "the scan no longer finds load_table's own read"
    assert readers == loader, "corpus reads outside load_table:\n" + "\n".join(
        sorted(readers - loader))


#: Each shared column primitive, by the constants that define it, and
#: the one engine function that may read them.
ONE_BUILDER = {
    ("MINHASH_A", "MINHASH_B"): "flinkproj_spark/operators/dedup.py::minhash_perms",
    ("_LANG_MARKERS",): "flinkproj_spark/operators/text.py::lang_marker_hits",
    ("QC_WEIGHTS",): "flinkproj_spark/operators/text.py::_qc_score_exprs",
    ("DSIR_SALT",): "flinkproj_spark/operators/curation.py::dsir_bucket",
    ("SRM_SALT",): "flinkproj_spark/operators/screens.py::srm_variant",
    ("_SHUFFLE_SALT",): "flinkproj_spark/operators/sampling.py::shard_assignment",
}


def test_each_shared_primitive_has_one_builder():
    """A streaming twin calls its batch key's builder instead of
    re-deriving the expression: in engine code each primitive's
    constants are read by exactly one function. The DuckDB oracles
    are the reference and may spell a primitive out: the `ORACLE` dict
    and its values, module-level `*_SQL` strings and functions named
    `*_oracle` or `*_sql` are not readers."""
    import ast
    from pathlib import Path

    guarded = {name: group for group in ONE_BUILDER for name in group}
    readers = {group: set() for group in ONE_BUILDER}

    def is_oracle(stmt):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return any(
            (isinstance(t, ast.Subscript) and ast.unparse(t.value) == "ORACLE")
            or (isinstance(t, ast.Name) and (t.id == "ORACLE" or t.id.endswith("_SQL")))
            for t in targets
        )

    def scan(node, rel, owner=None):
        """owner: the top-level function being scanned, None at module level."""
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not child.name.endswith(("_oracle", "_sql")):
                    scan(child, rel, owner or f"{rel}::{child.name}")
            elif owner is None and isinstance(child, (ast.Assign, ast.AnnAssign)) and is_oracle(child):
                continue
            else:
                if (isinstance(child, ast.Name) and isinstance(child.ctx, ast.Load)
                        and child.id in guarded):
                    readers[guarded[child.id]].add(owner or f"{rel}::<module>")
                scan(child, rel, owner)

    root = Path(__file__).resolve().parent.parent
    for path in sorted((root / "flinkproj_spark").rglob("*.py")):
        scan(ast.parse(path.read_text(), str(path)), str(path.relative_to(root)))
    assert readers == {group: {builder} for group, builder in ONE_BUILDER.items()}, readers


#: Defaulted engine parameters that no caller outside tests/ passes a
#: second value, and why each stays a parameter. Every other
#: single-value tuning choice is a module constant, which a test that
#: needs another value monkeypatches.
SINGLE_VALUE_OPTIONS = {
    "read_kafka_json(starting_offsets)": "deployment setting: where a job starts reading its topic",
    "dim_area_from_jdbc(table)": "deployment setting: the live dimension's JDBC table",
    "dim_area_from_jdbc(driver)": "deployment setting: the JDBC driver class on the cluster",
    "dim_area_from_jdbc(options)": "deployment setting: credentials and fetch options of the store",
    "upsert_keyed(key)": "pinned by perfbench/stream.py, whose timing wrapper passes key by position",
    "read_jsonl(keep_corrupt)": "switch between all-null and dead-letter reads; tests/test_sources.py covers both",
    "compact_small_files(sort_cols)": "switch between round-robin and range-sorted compaction; tests/test_sources.py covers both",
}


def _python_sources(root):
    """(path, source) of every Python caller outside tests/: the engine,
    deploy/, tools/ (with the heredoc scripts in tools/verify_all.sh),
    bench.py and perfbench/."""
    import re

    for d in ("flinkproj_spark", "deploy", "tools", "perfbench"):
        for path in sorted((root / d).rglob("*.py")):
            yield path, path.read_text()
    yield root / "bench.py", (root / "bench.py").read_text()
    for path in sorted((root / "tools").glob("*.sh")):
        for body in re.findall(r"<<'?EOF'?\n(.*?)\nEOF", path.read_text(), re.S):
            yield path, body


def test_every_engine_option_takes_two_values():
    """A defaulted engine parameter is an option only if some caller
    outside tests/ passes it a value other than its default (a
    non-literal argument counts as another value). One that every
    caller leaves at its default is a single-value tuning choice: make
    it the module constant that owns the decision, or list it in
    SINGLE_VALUE_OPTIONS with the reason it stays. Calls match by
    function name, as in the dead-code guard."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    options = {}  # function name -> [(param, position or None, default dump)]
    for path in sorted((root / "flinkproj_spark").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
            for i, (p, d) in enumerate(zip(pos[first:], a.defaults), first):
                options.setdefault(node.name, []).append((p.arg, i - skip, ast.dump(d)))
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    options.setdefault(node.name, []).append((p.arg, None, ast.dump(d)))

    varied = set()
    for path, source in _python_sources(root):
        for call in ast.walk(ast.parse(source, str(path))):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            for param, position, default in options.get(name, ()):
                kw = {k.arg: k.value for k in call.keywords}
                if param in kw:
                    value = kw[param]
                elif None in kw or any(isinstance(x, ast.Starred) for x in call.args):
                    value = None  # **kwargs or *args: may carry any value
                elif position is not None and position < len(call.args):
                    value = call.args[position]
                else:
                    continue
                if value is None or ast.dump(value) != default:
                    varied.add(f"{name}({param})")

    single = {f"{name}({p})" for name, opts in options.items() for p, _, _ in opts} - varied
    assert single == set(SINGLE_VALUE_OPTIONS), (
        "defaulted parameters no caller varies (make each a module constant "
        "or list it with a reason): " + ", ".join(sorted(single - set(SINGLE_VALUE_OPTIONS)))
        + "; stale SINGLE_VALUE_OPTIONS entries: "
        + ", ".join(sorted(set(SINGLE_VALUE_OPTIONS) - single))
    )
