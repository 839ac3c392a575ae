"""Round-close hygiene guards.

The round-N correctness/bench artifacts were left untracked at three
consecutive round closes (r2-r4 verdicts). This test makes the miss a
red test instead of a judge note: every CORRECTNESS_r*/BENCH_r* file
present on disk must be tracked by git.
"""

from __future__ import annotations

import ast
import glob
import math
import os
import re
import subprocess


def test_round_artifacts_are_git_tracked():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tracked = set(
        subprocess.run(
            ["git", "ls-files"], cwd=repo, capture_output=True, text=True
        ).stdout.splitlines()
    )
    on_disk = [
        os.path.basename(p)
        for pat in ("CORRECTNESS_r*.json", "BENCH_r*.json")
        for p in glob.glob(os.path.join(repo, pat))
    ]
    untracked = [f for f in on_disk if f not in tracked]
    assert not untracked, (
        f"round artifacts present but not committed: {untracked} — "
        "run `git add` on them before round close"
    )


def test_bench_final_line_fits_driver_tail_buffer():
    """The driver captures only ~1.5 KB of bench.py's stdout tail; six
    rounds of `"parsed": null` traced to the final JSON line outgrowing
    it (VERDICT r6 item 1). Reconstruct the worst-case final line from
    the current HEADLINE list and assert it stays well under budget,
    so adding headline queries can never silently re-break the driver's
    perf pipeline."""
    import json
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import bench

    names = [*bench.HEADLINE, "ooh_xml_10k"]
    shorts = [bench.short(n) for n in names]
    assert len(set(shorts)) == len(shorts), "short-key collision in HEADLINE"
    worst = {s: 99999.999 for s in shorts}
    line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": 999999.999,
            "unit": "sec",
            "queries": worst,
            "sf": 0.1,
        },
        separators=(",", ":"),
    )
    assert len(line) < 1200, (
        f"bench final line would be {len(line)} bytes — over the ~1.5 KB "
        "driver tail buffer safety margin; shorten keys or trim HEADLINE"
    )


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ast_nodes(*paths: str):
    """AST nodes of every ``.py`` file under each directory in ``paths``,
    or of the file itself where an entry names one."""
    for p in paths:
        files = (
            [f"{REPO}/{p}"]
            if p.endswith(".py")
            else sorted(glob.glob(f"{REPO}/{p}/**/*.py", recursive=True))
        )
        for path in files:
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                yield os.path.relpath(path, REPO), node


def test_stage_materialisation_lives_in_one_module():
    """Every eager checkpoint and concurrent-job pool in the package and
    the tools goes through ``ooh_etl_spark/stages.py``, so
    ``full_lineage`` sees every stage cut. Walks the AST: prose
    mentions in docstrings and comments are fine."""
    banned = {"ThreadPoolExecutor", "inheritable_thread_target"}
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, node in _ast_nodes("ooh_etl_spark", "tools")
        if rel != os.path.join("ooh_etl_spark", "stages.py")
        and (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "localCheckpoint"
            or isinstance(node, ast.Name) and node.id in banned
            or isinstance(node, ast.Attribute) and node.attr in banned
            or isinstance(node, ast.alias) and node.name in banned
        )
    ]
    assert not offenders, (
        f"materialise through ooh_etl_spark.stages instead: {offenders}"
    )


def test_no_localcheckpoint_monkeypatch():
    """Plan audits switch checkpoints off with ``stages.full_lineage``.
    Patching ``DataFrame.localCheckpoint`` is a silent no-op whenever
    the patched class is not the one the session returns."""

    def patches(node) -> bool:
        if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
            targets = getattr(node, "targets", None) or [node.target]
            return any(getattr(t, "attr", None) == "localCheckpoint" for t in targets)
        # setattr(DataFrame, "localCheckpoint", ...), monkeypatch.setattr(...)
        return (
            isinstance(node, ast.Call)
            and "setattr" in (getattr(node.func, "id", None), getattr(node.func, "attr", None))
            and any(getattr(a, "value", None) == "localCheckpoint" for a in node.args)
        )

    offenders = [
        f"{rel}:{node.lineno}"
        for rel, node in _ast_nodes("tests", "tools")
        if patches(node)
    ]
    assert not offenders, f"use ooh_etl_spark.stages.full_lineage: {offenders}"


def test_sessions_are_built_in_one_module():
    """Static SQL settings such as the generated-class cache size take
    effect only in the builder that starts the JVM, so bench.py, the
    tools and the tests all start Spark through ``session.get_spark``."""
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, node in _ast_nodes("ooh_etl_spark", "tools", "tests", "bench.py")
        if rel != os.path.join("ooh_etl_spark", "session.py")
        and isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and "SparkSession" in (getattr(node.value, "id", None), getattr(node.value, "attr", None))
    ]
    assert not offenders, f"start Spark with ooh_etl_spark.session.get_spark: {offenders}"


def _chain(node):
    """The calls and attributes of a method chain, outermost first:
    ``spark.read.schema(s).parquet(p)`` gives ``parquet(...)``,
    ``.parquet``, ``schema(...)``, ``.schema``, ``.read``, ``spark``."""
    while node is not None:
        yield node
        node = getattr(node, "func", None) or getattr(node, "value", None)


def test_parquet_reads_declare_a_schema():
    """A ``spark.read.parquet`` without ``.schema(...)`` infers the
    schema from the file footers in a Spark job of its own, on every
    call. Tables get theirs once per session from ``tables.table_schema``,
    which holds the package's one inferring read; any other parquet read
    in the package declares its schema."""
    tables = os.path.join("ooh_etl_spark", "tables.py")
    home = next(
        range(node.lineno, node.end_lineno + 1)
        for rel, node in _ast_nodes(tables)
        if isinstance(node, ast.FunctionDef) and node.name == "table_schema"
    )

    def reads_parquet(parts) -> bool:
        attrs = [getattr(p, "attr", None) for p in parts]
        formats = [
            a.value
            for p in parts
            if isinstance(p, ast.Call) and getattr(p.func, "attr", None) == "format"
            for a in p.args
            if isinstance(a, ast.Constant)
        ]
        return (
            (attrs[1] == "parquet" or attrs[1] == "load" and "parquet" in formats)
            and "read" in attrs
            and "schema" not in attrs
        )

    offenders = [
        f"{rel}:{node.lineno}"
        for rel, node in _ast_nodes("ooh_etl_spark")
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and reads_parquet(list(_chain(node)))
        and not (rel == tables and node.lineno in home)
    ]
    assert not offenders, (
        f"read with .schema(...), or load tables through tables.load_table: {offenders}"
    )


def test_no_hard_coded_checkout_path():
    """Code finds the repo from ``__file__`` (tools) or pytest's rootdir
    import (tests). A literal checkout path makes a run from any other
    checkout, such as the parent arm of an A/B, silently import this
    one's package."""
    offenders = []
    for d in ("ooh_etl_spark", "tests", "tools"):
        for path in sorted(glob.glob(f"{REPO}/{d}/**/*.py", recursive=True)):
            with open(path) as f:
                if REPO in f.read():
                    offenders.append(os.path.relpath(path, REPO))
    assert not offenders, f"derive the repo root from __file__: {offenders}"


def test_catalog_is_organised_by_concern():
    """Query modules and test files are named for what they cover, not
    for the round they arrived in: no ``queries/advanced2.py``-style
    numbered stem, no ``round``/``wave`` word in a test file name."""
    numbered = [
        os.path.basename(p)
        for p in glob.glob(f"{REPO}/ooh_etl_spark/queries/*.py")
        if os.path.splitext(os.path.basename(p))[0][-1].isdigit()
    ]
    round_named = [
        os.path.basename(p)
        for p in glob.glob(f"{REPO}/tests/test_*.py")
        if any(
            re.fullmatch(r"(round|wave)\d*", word)
            for word in os.path.splitext(os.path.basename(p))[0].split("_")
        )
    ]
    assert not numbered, f"fold these into their family module: {numbered}"
    assert not round_named, f"fold these into their family test file: {round_named}"


def test_one_timing_loop():
    """``bench.time_reps`` is the only timed loop in bench.py and the
    tools, so every harness that times a registered query times the
    same action with the same clock and the same median. Wall-clock
    reads that time nothing (``time.time`` stall timers) are not
    clocks here."""
    clocks = {"perf_counter", "perf_counter_ns", "monotonic", "monotonic_ns"}
    exempt: set[int] = set()
    offenders = []
    for rel, node in _ast_nodes("bench.py", "tools"):
        if rel == "bench.py" and isinstance(node, ast.FunctionDef) and node.name == "time_reps":
            # ast.walk yields a node before its descendants
            exempt.update(id(n) for n in ast.walk(node))
        elif id(node) not in exempt and (
            isinstance(node, ast.Attribute) and node.attr in clocks
            or isinstance(node, ast.alias) and node.name in clocks
            or isinstance(node, ast.FunctionDef) and node.name == "median"
        ):
            offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"time through bench.time_reps: {offenders}"


def _names(node) -> set[str]:
    """Every name ``node`` mentions: variables, attributes, imports."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
    return out


_ROOTS = ("__spark_entry__.py", "bench.py", "perfbench", "tools")


def package_graph():
    """The package's name graph, read from its AST: ``(defs, roots,
    queries)``. ``defs`` maps (module, name) to each top-level function
    and class that is not a registered query; ``roots`` is every name
    mentioned by a statement that runs at import, a decorator, a
    registered query, ``__spark_entry__.py``, ``bench.py``,
    ``perfbench/`` or ``tools/``; ``queries`` maps each registered
    query's name to the names its definition mentions."""
    modules = [(rel, n) for rel, n in _ast_nodes("ooh_etl_spark") if isinstance(n, ast.Module)]
    registrars = {
        t.id: n.value.args[0].value
        for _, mod in modules
        for n in ast.walk(mod)
        if isinstance(n, ast.Assign) and getattr(getattr(n.value, "func", None), "id", None) == "register"
        for t in n.targets
    }

    def query_name(decorator):
        if getattr(getattr(decorator, "func", None), "id", None) == "register":
            return decorator.args[0].value
        return registrars.get(getattr(decorator, "id", None))

    defs, roots, queries = {}, set(), {}
    for rel, mod in modules:
        for st in mod.body:
            decorators = getattr(st, "decorator_list", [])
            names = [n for n in map(query_name, decorators) if n]
            if isinstance(st, (ast.FunctionDef, ast.ClassDef)) and not names:
                defs[(rel, st.name)] = st
                roots |= set().union(*map(_names, decorators))
            else:
                roots |= _names(st)
                queries.update(dict.fromkeys(names, _names(st)))
            # register("name", oracle)(fn), a call after fn's definition
            call = getattr(st, "value", None)
            if isinstance(st, ast.Expr) and query_name(getattr(call, "func", None)):
                queries[query_name(call.func)] = _names(defs[(rel, call.args[0].id)])
    roots |= set().union(*(_names(n) for _, n in _ast_nodes(*_ROOTS) if isinstance(n, ast.Module)))
    return defs, roots, queries


def reached_from(defs, frontier: set[str]) -> set[tuple[str, str]]:
    """The keys of ``defs`` reached by name from ``frontier``."""
    reached: set[tuple[str, str]] = set()
    while frontier:
        hit = {k for k in defs if k[1] in frontier} - reached
        reached |= hit
        frontier = set().union(*(_names(defs[k]) for k in hit))
    return reached


def test_package_code_is_reached():
    """Every top-level function and class of the package is reached by
    name from a root: a registered query, a statement that runs at
    import, ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` or
    ``tools/``. Every defaulted parameter of a top-level function is
    set by some call outside ``tests/``: a default that no caller
    overrides is a constant, and passing the default itself, written
    out, overrides nothing. Tests are not callers, so code that only a
    test reaches, such as a reference model, lives in ``tests/``."""
    exempt_files = {
        # The plan-assertion library: tests/test_plans.py and the
        # window-posture audit are its callers.
        "ooh_etl_spark/plans/audit.py",
        # The lenient-HTML fallback: ROADMAP direction 5 decides whether
        # the reference pipeline calls it or it goes.
        "ooh_etl_spark/functions/html_fallback.py",
    }
    # The decimal(38,0) accumulator guards a global money sum against a
    # silent int64 wrap; tests/test_money_stress.py pins it.
    exempt_params = {("cents_sum", "wide"), ("cents_avg", "wide")}

    defs, roots, _ = package_graph()
    reached = reached_from(defs, roots)
    unreached = [
        f"{rel}:{defs[(rel, name)].lineno} {name}"
        for rel, name in sorted(defs.keys() - reached)
        if rel not in exempt_files
    ]

    calls = [n for _, n in _ast_nodes("ooh_etl_spark", *_ROOTS) if isinstance(n, ast.Call)]
    never_passed = []
    for (rel, name), fn in sorted(defs.items()):
        if rel in exempt_files or not isinstance(fn, ast.FunctionDef):
            continue
        positional = fn.args.posonlyargs + fn.args.args
        first = len(positional) - len(fn.args.defaults)
        defaulted = [
            (p.arg, i, fn.args.defaults[i - first]) for i, p in enumerate(positional) if i >= first
        ] + [(p.arg, None, d) for p, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None]
        for param, i, default in defaulted:
            if (name, param) in exempt_params:
                continue

            def sets(value) -> bool:
                return ast.dump(value) != ast.dump(default)

            if not any(
                getattr(c.func, "id", getattr(c.func, "attr", None)) == name
                and (
                    any(k.arg is None or k.arg == param and sets(k.value) for k in c.keywords)
                    or any(isinstance(a, ast.Starred) for a in c.args)
                    or i is not None and len(c.args) > i and sets(c.args[i])
                )
                for c in calls
            ):
                never_passed.append(f"{rel}:{fn.lineno} {name}({param})")

    assert not unreached and not never_passed, (
        f"reached only from tests, if at all; delete or move into tests/: {unreached}; "
        f"no caller outside tests/ sets these; make them constants: {never_passed}"
    )


def test_gram_index_lists_are_built_in_one_module():
    """Spark's ``sequence(1, 0)`` counts down to ``[1, 0]`` where
    DuckDB's ``generate_series(1, 0)`` is empty, so a start-index list
    bounded by an array's size indexes past a document shorter than the
    window. ``functions/text.ngram_starts`` is the guarded builder;
    every other such ``sequence`` in the package is an offender."""
    pattern = re.compile(r"sequence\(\s*(F\.lit\()?[01]\)?,\s*(F\.)?size\(")
    offenders = []
    for path in sorted(glob.glob(f"{REPO}/ooh_etl_spark/**/*.py", recursive=True)):
        rel = os.path.relpath(path, REPO)
        if rel == os.path.join("ooh_etl_spark", "functions", "text.py"):
            continue
        with open(path) as f:
            src = f.read()
        offenders += [f"{rel}:{src.count(chr(10), 0, m.start()) + 1}" for m in pattern.finditer(src)]
    assert not offenders, f"build gram start positions with functions.text.ngram_starts: {offenders}"


#: A double zero in Spark SQL text.
_SQL_ZERO = r"(?:cast\(0(?:\.0)? as double\)|0(?:\.0)?d|0\.0)"
#: Hand-written double vector folds in Spark SQL text, whitespace
#: collapsed. The lookbehind skips DuckDB's ``list_aggregate`` and
#: ``list_transform``.
_SQL_FOLDS = re.compile(
    rf"(?<![\w.])aggregate\( ?zip_with\(.*?, \((\w+), (\w+)\) -> "
    rf"(?:\1 \* \2|\(\1 - \2\) \* \(\1 - \2\))\), ?{_SQL_ZERO}"
    rf"|(?<![\w.])aggregate\([^()]*?, ?{_SQL_ZERO}, ?\((\w+), (\w+)\) -> \3 \+ \4 \* \4\)"
    rf"|(?<![\w.])aggregate\( ?transform\(.*?, (\w+) -> \5 \* \5\), ?{_SQL_ZERO}"
    rf"|(?<![\w.])transform\([^()]*?, (\w+) -> cast\(\6 as double\)\)",
    re.I,
)
#: The same folds spelled with Column lambdas (``ast.unparse`` text).
_COLUMN_FOLDS = {
    "zip_with": re.compile(r"lambda (\w+), (\w+): (?:\1 \* \2|\(\1 - \2\) \* \(\1 - \2\))"),
    "aggregate": re.compile(r"lambda (\w+), (\w+): \1 \+ \2 \* \2"),
    "transform": re.compile(r"lambda (\w+): (?:\1 \* \1|\1\.cast\('double'\))"),
}
#: An e6-quantised squared distance, the nearest-centroid rule's key
#: (``similarity.centroid_d2``), as ``ast.unparse`` text.
_QUANTISED_D2 = re.compile(
    r"(?:F\.)?round\((?:1000000|1e6|1000000\.0) \* sq_dist\(|quantise\(sq_dist\(.*\), 6\)$"
)


def test_vector_folds_live_in_one_module():
    """A double dot product, squared distance or squared norm is a left
    fold from 0.0 in array order, the order DuckDB's oracles sum in, and
    float arrays widen with ``cast("array<double>")``. The builders of
    ``operators/similarity.py`` are the only spelling of that: a
    ``zip_with`` product or squared difference, an ``acc + x * x`` or
    ``x -> x * x`` fold, or a cast-to-double lambda anywhere else in the
    package is an offender, in Column code and in Spark SQL strings.
    Integer and decimal accumulators (a BIGINT or DECIMAL zero over
    quantised terms) are not double folds and stay where they are. An
    e6-quantised ``sq_dist`` is the nearest-centroid rule of
    ``centroid_d2``/``nearest_centroid`` and is an offender elsewhere
    too."""
    home = os.path.join("ooh_etl_spark", "operators", "similarity.py")
    offenders = set()
    for rel, node in _ast_nodes("ooh_etl_spark"):
        if rel == home:
            continue
        if isinstance(node, ast.Call) and node.args and isinstance(node.args[-1], ast.Lambda):
            pattern = _COLUMN_FOLDS.get(getattr(node.func, "attr", getattr(node.func, "id", None)))
            if pattern and pattern.fullmatch(ast.unparse(node.args[-1])):
                offenders.add(f"{rel}:{node.lineno}")
        elif isinstance(node, ast.JoinedStr) or isinstance(getattr(node, "value", None), str):
            parts = node.values if isinstance(node, ast.JoinedStr) else [node]
            text = "".join(p.value if isinstance(p, ast.Constant) else "{}" for p in parts)
            if _SQL_FOLDS.search(re.sub(r"\s+", " ", text)):
                offenders.add(f"{rel}:{node.lineno}")
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None)) in ("round", "quantise")
            and _QUANTISED_D2.match(ast.unparse(node))
        ):
            offenders.add(f"{rel}:{node.lineno}")
    assert not offenders, (
        "fold vectors with operators.similarity's dot, sq_dist, l2_norm or cosine, "
        "assign centroids with its centroid_d2 or nearest_centroid, "
        f"and widen with cast('array<double>'): {sorted(offenders)}"
    )


def _power_of_ten(node: ast.expr) -> bool:
    """A positive or negated power-of-ten number literal other than 1
    (``x * 1.0`` widens to double; it is not a unit)."""
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
        node = node.operand
    v = node.value if isinstance(node, ast.Constant) else None
    return type(v) in (int, float) and v > 0 and v != 1 and 10 ** round(math.log10(v)) == v


def _hand_quantised(node: ast.AST) -> bool:
    """``F.round(<product>).cast("bigint")`` whose product, or its
    negation, has a power-of-ten operand at the top level. ``round(x, 0)``
    and ``cast("long")`` are the same spelling."""
    if not (
        isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "cast"
        and [ast.unparse(a) for a in node.args] in (["'bigint'"], ["'long'"])
    ):
        return False
    rnd = node.func.value
    if not (
        isinstance(rnd, ast.Call)
        and getattr(rnd.func, "attr", getattr(rnd.func, "id", None)) == "round"
        and [ast.unparse(a) for a in rnd.args[1:]] in ([], ["0"])
    ):
        return False
    prod = rnd.args[0]
    if isinstance(prod, ast.UnaryOp) and isinstance(prod.op, ast.USub):
        prod = prod.operand
    return (
        isinstance(prod, ast.BinOp)
        and isinstance(prod.op, ast.Mult)
        and (_power_of_ten(prod.left) or _power_of_ten(prod.right))
    )


def test_fixed_point_quantisation_lives_in_one_module():
    """Rounding each row to an integer number of ``10**-k`` units before
    any cross-row sum keeps sums exact under any partitioning (SCALE.md,
    "Numeric determinism"). ``functions/money.py::quantise`` is the one
    Column spelling of that rule, with a double unit; a hand-written
    ``F.round(1e6 * x).cast("bigint")`` (either operand order, int or
    double unit, any power of ten) anywhere else in the package is an
    offender. ``F.round(1e6 * x / n)`` and ``F.round(1e6 * a * b)`` are
    not: their top-level operand is not the unit, and reordering them
    could change the rounding. Spark SQL strings share their spelling
    with the DuckDB twins and are not checked."""
    home = os.path.join("ooh_etl_spark", "functions", "money.py")
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, node in _ast_nodes("ooh_etl_spark")
        if rel != home and _hand_quantised(node)
    ]
    assert not offenders, (
        f"quantise with functions.money.quantise(col, scale): {len(offenders)} sites {offenders}"
    )


def test_no_private_name_crosses_a_module():
    """A ``_``-prefixed name is its module's own business: a package
    module that imports one from another module couples to a helper
    whose signature can change under it with no test watching."""
    offenders = [
        f"{rel}:{node.lineno} {alias.name}"
        for rel, node in _ast_nodes("ooh_etl_spark")
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
        if alias.name.startswith("_")
    ]
    assert not offenders, f"make these public or keep them in their module: {offenders}"


def test_every_import_is_needed():
    """In the package, a function-local import of a name its module
    already imports at top level is a second copy, and an import whose
    name the module never uses (nor lists in ``__all__``) is dead. A
    package ``__init__`` imports its submodules to run them (query
    modules register on import), and the protobuf probe in
    ``queries/streaming.py`` tests that the import itself works."""
    probe = ("ooh_etl_spark/queries/streaming.py", "descriptor")
    offenders = []
    for rel, mod in _ast_nodes("ooh_etl_spark"):
        if not isinstance(mod, ast.Module):
            continue
        package = os.path.dirname(os.path.join(REPO, rel))
        imports = [
            (node, alias, alias.asname or alias.name.split(".")[0])
            for node in ast.walk(mod)
            if isinstance(node, (ast.Import, ast.ImportFrom))
            and getattr(node, "module", None) != "__future__"
            for alias in node.names
        ]
        top = {bound for node, _, bound in imports if node in mod.body}
        used = {n.id for n in ast.walk(mod) if isinstance(n, ast.Name)} | {
            e.value  # re-exports listed in __all__
            for st in mod.body
            if isinstance(st, ast.Assign) and getattr(st.targets[0], "id", None) == "__all__"
            for e in st.value.elts
        }
        for node, alias, bound in imports:
            submodule = rel.endswith("__init__.py") and os.path.exists(f"{package}/{alias.name}.py")
            if node not in mod.body and bound in top:
                offenders.append(f"{rel}:{node.lineno} {bound} (imported at top level)")
            elif bound not in used and not submodule and (rel, bound) != probe:
                offenders.append(f"{rel}:{node.lineno} {bound} (unused)")
    assert not offenders, f"delete these imports: {offenders}"
