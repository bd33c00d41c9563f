"""Static enforcement of the two NULL-handling conventions round 8 had to
retrofit (qsamp NULL-text, NULL-domain join), so the NEXT leg cannot
re-introduce the class:

1. **No count-of-raw-tokenize.**  Spark's non-ANSI ``size(NULL)`` is -1
   and DuckDB's ``len(NULL)`` is NULL, so a token COUNT computed directly
   over a tokenize of raw ``text`` silently diverges cross-engine (and
   poisons downstream ratios in-engine) the moment a NULL document
   appears.  Every ``size(...)``/``len(...)`` whose argument inlines
   ``lower(text)`` must coalesce: ``lower(coalesce(text, ''))``.

   Scope note: the rule is count-scoped and inline-scoped on purpose.
   Tokenize feeding ``explode``/``unnest`` is NULL-robust by construction
   (NULL array -> no rows on both engines), and alias-indirected counts
   (``size(toks)`` where ``toks`` came from a CTE) are guarded by CASE
   branches that the dynamic gate pins -- every documents/events entry is
   replayed over NULL/edge rows by tests/test_adversarial_corpus.py, which
   is the backstop for everything this static pass cannot see.

2. **Domain-keyed joins are null-safe.**  ``mix_domains`` /
   ``temperature_mix`` join per-domain count tables back on the domain
   column; a plain ``==`` silently drops every NULL-domain row (the r8
   artifact).  Any ``F.col(domain_col) ==`` comparison in sampling.py is
   a violation -- the convention is ``eqNullSafe``.

Both checkers are themselves tested against deliberately-broken snippets
so a regex rot can't quietly turn the gate off.
"""

from __future__ import annotations

import inspect
import re

from nyc_taxi_dataset_analysis_apache_hive_spark import registry
from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sampling

#: tokenize-of-raw-text marker: ``lower(text)`` / ``lower(text,`` with
#: arbitrary whitespace, NOT preceded by coalesce (the coalesced spelling
#: is ``lower(coalesce(text, ''))``, which this regex cannot match).
_RAW_TEXT = re.compile(r"lower\s*\(\s*text\s*[),]")

_COUNT_FN = re.compile(r"\b(size|len)\s*\(", re.IGNORECASE)


def _balanced_arg(s: str, open_idx: int) -> str:
    """Return the balanced-paren argument starting at s[open_idx] == '('."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return s[open_idx : i + 1]
    return s[open_idx:]  # unbalanced (mid-fragment): take the rest


def count_of_raw_tokenize(sql: str) -> list[str]:
    """Every size()/len() argument that inlines a raw ``lower(text)``."""
    hits = []
    for m in _COUNT_FN.finditer(sql):
        arg = _balanced_arg(sql, m.end() - 1)
        if _RAW_TEXT.search(arg):
            hits.append(f"{m.group(1)}({arg[1:80]}...")
    return hits


def test_no_count_of_raw_tokenize_in_any_sql_surface():
    """Rule 1 over the DuckDB oracle of every registry entry."""
    bad = {}
    for name, sql in sorted(registry.ORACLES.items()):
        hits = count_of_raw_tokenize(sql)
        if hits:
            bad[f"oracle:{name}"] = hits
    assert not bad, f"count-of-raw-tokenize sites (coalesce text): {bad}"


def test_checker_catches_a_broken_leg():
    """The r8 bug shape itself must trip the checker (guards regex rot)."""
    broken = "SELECT CAST(size(filter(split(lower(text), '[^a-z]+'), x -> x != '')) AS BIGINT) AS n FROM documents"
    assert count_of_raw_tokenize(broken)
    broken_duck = "SELECT len(string_split_regex(lower(text), '\\s+')) FROM documents"
    assert count_of_raw_tokenize(broken_duck)
    fixed = broken.replace("lower(text)", "lower(coalesce(text, ''))")
    assert not count_of_raw_tokenize(fixed)
    # explode is out of scope by design (NULL-robust on both engines)
    assert not count_of_raw_tokenize(
        "SELECT explode(filter(split(lower(text), '[^a-z]+'), x -> x != ''))"
    )


def test_domain_joins_in_sampling_are_null_safe():
    """Rule 2: no plain equality against the domain column in sampling.py
    (join keys must use eqNullSafe), and the two mix operators actually
    carry an eqNullSafe join."""
    src = inspect.getsource(sampling)
    plain_eq = re.findall(r"F\.col\(domain_col\)\s*==", src)
    assert not plain_eq, "plain == on domain_col: use eqNullSafe"
    # __mix_dom is the broadcast count-table key: every join line on it
    # must be null-safe
    for line in src.splitlines():
        if "__mix_dom" in line and "==" in line and "eqNullSafe" not in line:
            raise AssertionError(f"non-null-safe __mix_dom join: {line.strip()}")
    assert src.count("eqNullSafe") >= 2  # mix_domains + temperature_mix


def test_domain_checker_catches_a_broken_join():
    """Self-test for rule 2's pattern on a synthetic bad line."""
    bad = 'df.join(F.broadcast(counts), F.col(domain_col) == F.col("__mix_dom"))'
    assert re.search(r"F\.col\(domain_col\)\s*==", bad)


# ---------------------------------------------------------------------------
# Rule 3 (r12, the r11 retrieval.py miss): no unwired operator modules.
# Round 11 shipped operators/retrieval.py wired to NOTHING -- no registry
# leg, no oracle, no test imported it -- while its docstring claimed a
# driver gate.  This gate makes that state a test failure: every public
# module under operators/ must be IMPORTED (ast-level, not grepped prose)
# by at least one registry/entry surface or one test file.
# ---------------------------------------------------------------------------

import ast
import pathlib

_PKG = pathlib.Path(registry.__file__).resolve().parent.parent
_REPO = _PKG.parent


def _imported_operator_modules(py_path: pathlib.Path) -> set[str]:
    """Operator module names a file imports: ``from ...operators import
    a, b``, ``from ...operators.a import f``, or ``import ...operators.a``."""
    try:
        tree = ast.parse(py_path.read_text())
    except SyntaxError:  # pragma: no cover - never expected
        return set()
    mods: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            parts = node.module.split(".")
            if parts[-1] == "operators":
                mods.update(a.name for a in node.names)
            elif "operators" in parts:
                mods.add(parts[parts.index("operators") + 1])
        elif isinstance(node, ast.Import):
            for a in node.names:
                parts = a.name.split(".")
                if "operators" in parts[:-1]:
                    mods.add(parts[parts.index("operators") + 1])
    return mods


def test_every_operator_module_is_wired_to_a_surface_or_test():
    op_dir = _PKG / "operators"
    public = {
        p.stem
        for p in op_dir.glob("*.py")
        if p.stem != "__init__"
    }
    consumers: set[str] = set()
    surfaces = (
        list((_PKG / "registry").glob("*.py"))
        + [_REPO / "__spark_entry__.py", _REPO / "bench.py"]
        + list((_REPO / "tests").glob("test_*.py"))
        + list(_PKG.glob("streaming/*.py"))
    )
    for f in surfaces:
        if f.exists():
            consumers |= _imported_operator_modules(f)
    unwired = sorted(public - consumers)
    assert not unwired, (
        f"operator modules imported by no registry surface and no test "
        f"(the r11 retrieval.py failure mode): {unwired}"
    )
    # an import alone is not wiring: r11's registry imported retrieval
    # for its CONSTANTS while no test touched the operator -- so every
    # module must ALSO be imported by at least one test file directly
    test_consumers: set[str] = set()
    for f in (_REPO / "tests").glob("test_*.py"):
        test_consumers |= _imported_operator_modules(f)
    untested = sorted(public - test_consumers)
    assert not untested, (
        f"operator modules imported by no test file directly: {untested}"
    )


def test_unwired_checker_catches_a_fresh_module(tmp_path):
    """Self-test: a file importing nothing from operators contributes no
    consumers, and the import collector sees all three import forms."""
    f = tmp_path / "t.py"
    f.write_text(
        "from nyc_taxi_dataset_analysis_apache_hive_spark.operators import aaa\n"
        "from nyc_taxi_dataset_analysis_apache_hive_spark.operators.bbb import x\n"
        "import nyc_taxi_dataset_analysis_apache_hive_spark.operators.ccc\n"
    )
    assert _imported_operator_modules(f) == {"aaa", "bbb", "ccc"}
    g = tmp_path / "none.py"
    g.write_text("import os\n")
    assert _imported_operator_modules(g) == set()


# ---------------------------------------------------------------------------
# Rule 4: no writes to SparkContext-global state outside their one owner.
# caching.run_overlapped runs build thunks on pool threads, which is only
# sound while no engine code mutates state every thread shares: the
# checkpoint directory (``setCheckpointDir``, or the Scala setter
# ``checkpointDir_$eq`` reached through getattr), session confs
# (``conf.set``, owned by session.py) and thread-local job properties
# (``setLocalProperty``, owned by run_overlapped, which copies the
# caller's job labels into each worker).
# ---------------------------------------------------------------------------

#: call -> (module, enclosing top-level function) allowed to make it;
#: None = allowed nowhere
_GLOBAL_WRITERS = {
    "setCheckpointDir": None,
    "checkpointDir_$eq": None,
    "conf.set": ("session.py", None),
    "setLocalProperty": ("caching.py", "run_overlapped"),
}


def _global_write(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Attribute):
        if f.attr in ("setCheckpointDir", "setLocalProperty"):
            return f.attr
        if (
            f.attr == "set"
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "conf"
        ):
            return "conf.set"
    if (
        isinstance(f, ast.Name)
        and f.id == "getattr"
        and len(call.args) > 1
        and isinstance(call.args[1], ast.Constant)
        and call.args[1].value == "checkpointDir_$eq"
    ):
        return "checkpointDir_$eq"
    return None


def global_state_writes(source: str, filename: str) -> list[str]:
    """``file:line call`` for every SparkContext-global write in
    ``source`` (``filename`` relative to the package) that its owner
    table does not allow there."""
    hits = []
    for top in ast.parse(source).body:
        fn = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            call = _global_write(node)
            if call is None:
                continue
            owner = _GLOBAL_WRITERS[call]
            if owner is not None and owner[0] == filename and owner[1] in (None, fn):
                continue
            hits.append(f"{filename}:{node.lineno} {call}")
    return hits


def test_no_sparkcontext_global_writes_outside_their_owner():
    bad = []
    for p in sorted(_PKG.rglob("*.py")):
        bad += global_state_writes(p.read_text(), p.relative_to(_PKG).as_posix())
    assert not bad, (
        f"SparkContext-global writes outside their owner "
        f"(caching.run_overlapped's pool threads share this state): {bad}"
    )


def test_global_write_checker_catches_each_call():
    """Self-test: every forbidden spelling trips the checker, and each
    owner's own call does not."""
    checkpoint_restore = (
        "def _checkpoint_subdir(sc, d):\n"
        "    sc.setCheckpointDir(d)\n"
        "    getattr(sc._jsc.sc(), 'checkpointDir_$eq')(None)\n"
    )
    assert global_state_writes(checkpoint_restore, "operators/dedup.py") == [
        "operators/dedup.py:2 setCheckpointDir",
        "operators/dedup.py:3 checkpointDir_$eq",
    ]
    conf = "def f(spark):\n    spark.conf.set('k', 'v')\n"
    assert global_state_writes(conf, "operators/sampling.py") == [
        "operators/sampling.py:2 conf.set"
    ]
    assert global_state_writes(conf, "session.py") == []
    prop = "def run_overlapped(sc):\n    def run():\n        sc.setLocalProperty('k', 'v')\n"
    assert global_state_writes(prop, "caching.py") == []
    elsewhere = prop.replace("run_overlapped", "checkpoint_overlapped")
    assert global_state_writes(elsewhere, "caching.py") == [
        "caching.py:3 setLocalProperty"
    ]
    assert global_state_writes(prop, "operators/dedup.py") == [
        "operators/dedup.py:3 setLocalProperty"
    ]


# ---------------------------------------------------------------------------
# Rule 5: one path per operator -- no optional-import forks.  A handler
# that catches ImportError/ModuleNotFoundError (or any handler of a try
# whose body imports) is how a second code path for an absent library is
# written: no workload runs it, and its tests can only skip here.
# ---------------------------------------------------------------------------

_IMPORT_ERRORS = {"ImportError", "ModuleNotFoundError"}


def _caught_names(handler: ast.ExceptHandler) -> set[str]:
    t = handler.type
    elts = t.elts if isinstance(t, ast.Tuple) else [t]
    return {e.id for e in elts if isinstance(e, ast.Name)}


def optional_import_forks(source: str, filename: str) -> list[str]:
    """``file:line`` for every except handler in ``source`` that catches
    an import failure: by naming ImportError/ModuleNotFoundError, or by
    guarding a try body that imports."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Try):
            continue
        imports = any(
            isinstance(n, (ast.Import, ast.ImportFrom))
            for stmt in node.body
            for n in ast.walk(stmt)
        )
        for h in node.handlers:
            if imports or _caught_names(h) & _IMPORT_ERRORS:
                hits.append(f"{filename}:{h.lineno}")
    return hits


def test_no_optional_import_forks_in_the_package():
    bad = []
    for p in sorted(_PKG.rglob("*.py")):
        bad += optional_import_forks(p.read_text(), p.relative_to(_PKG).as_posix())
    assert not bad, f"optional-import fork (a second code path): {bad}"


def test_optional_import_checker_catches_each_spelling():
    """Self-test: each way of writing the fork trips the checker, and a
    try that neither imports nor catches an import error does not."""
    named = (
        "def f():\n"
        "    try:\n"
        "        x = 1\n"
        "    except ImportError:\n"
        "        pass\n"
    )
    assert optional_import_forks(named, "operators/m.py") == ["operators/m.py:4"]
    tupled = named.replace("ImportError", "(ValueError, ModuleNotFoundError)")
    assert optional_import_forks(tupled, "operators/m.py") == ["operators/m.py:4"]
    broad = (
        "def f():\n"
        "    try:\n"
        "        from google.protobuf import descriptor\n"
        "        return True\n"
        "    except Exception:\n"
        "        return False\n"
    )
    assert optional_import_forks(broad, "streaming/s.py") == ["streaming/s.py:5"]
    clean = named.replace("ImportError", "ValueError")
    assert optional_import_forks(clean, "operators/m.py") == []


# ---------------------------------------------------------------------------
# Rule 6: one input per operator.  A word-token operator takes the
# token table (or a frame derived from it); the caller that holds raw
# documents builds it with dedup.token_table.  A search or election takes
# the artifact a builder returns (ivf_assign, pq_encode, an
# assign_to_centroids state, a component table); raw geometry is spelled
# only in the builders.  A signature carrying both spellings is the
# two-spellings overload, with its raise-if-both guard.
# ---------------------------------------------------------------------------

_RAW_INPUTS = {"docs", "corpus", "probes", "text_col"}
_PRECOMPUTED_INPUTS = {
    "toks", "corpus_toks", "probe_toks", "grams", "runs", "counts", "per_doc",
    "term_scores", "lexical", "dense",
}
_GEOMETRY_INPUTS = {
    "n_centroids", "centroid_offset", "centroids", "m", "k_sub",
    "codebook_offset", "dim", "codebook", "codebook_prenormalized", "history",
}
_ARTIFACT_INPUTS = {
    "index", "encoding", "assigned", "components", "history_state",
    "batch_state",
}


def dual_input_signatures(source: str, filename: str) -> list[str]:
    """``file:line name`` for every function in ``source`` whose
    parameters include both a raw input and a precomputed one: raw text
    next to a token-derived frame, or raw geometry next to a built
    artifact."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = node.args
        names = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        if (names & _RAW_INPUTS and names & _PRECOMPUTED_INPUTS) or (
            names & _GEOMETRY_INPUTS and names & _ARTIFACT_INPUTS
        ):
            hits.append(f"{filename}:{node.lineno} {node.name}")
    return hits


def test_text_operators_take_one_input():
    bad = []
    for p in sorted(_PKG.rglob("*.py")):
        bad += dual_input_signatures(p.read_text(), p.relative_to(_PKG).as_posix())
    assert not bad, (
        f"raw and precomputed inputs on one signature (build the input "
        f"with dedup.token_table or the artifact's builder instead): {bad}"
    )


def test_dual_input_checker_catches_each_pairing():
    """Self-test: a raw input next to a precomputed one trips the
    checker wherever it sits in the signature; one input does not."""
    kw_only = "def f(docs=None, n=3, *, toks=None):\n    pass\n"
    assert dual_input_signatures(kw_only, "operators/m.py") == [
        "operators/m.py:1 f"
    ]
    nested = (
        "class C:\n"
        "    def g(self, runs, text_col='text'):\n"
        "        pass\n"
    )
    assert dual_input_signatures(nested, "streaming/s.py") == [
        "streaming/s.py:2 g"
    ]
    two_sided = "def h(corpus, probes, *, corpus_toks=None, probe_toks=None):\n    pass\n"
    assert dual_input_signatures(two_sided, "operators/m.py") == [
        "operators/m.py:1 h"
    ]
    assert dual_input_signatures("def k(toks, runs, n=1):\n    pass\n", "m.py") == []
    assert dual_input_signatures("def k(docs, text_col='t'):\n    pass\n", "m.py") == []
    hooks = "def b(docs, query_terms, *, term_scores=None):\n    pass\n"
    assert dual_input_signatures(hooks, "m.py") == ["m.py:1 b"]
    fusion = "def f(docs=None, lexical=None, dense=None):\n    pass\n"
    assert dual_input_signatures(fusion, "m.py") == ["m.py:1 f"]


def test_dual_input_checker_catches_geometry_next_to_artifact():
    """Self-test for the geometry half: each raw-geometry parameter next
    to a built artifact trips the checker; a builder (geometry only) and
    a search (artifact only) do not."""
    ivf = "def s(emb, k=5, n_centroids=16, *, index=None):\n    pass\n"
    assert dual_input_signatures(ivf, "operators/m.py") == ["operators/m.py:1 s"]
    pq = "def s(k=5, m=16, codebook=None, *, encoding=None):\n    pass\n"
    assert dual_input_signatures(pq, "m.py") == ["m.py:1 s"]
    admit = "def a(history, batch, history_state=None):\n    pass\n"
    assert dual_input_signatures(admit, "m.py") == ["m.py:1 a"]
    dedup = "def d(emb, centroids=None, components=None):\n    pass\n"
    assert dual_input_signatures(dedup, "m.py") == ["m.py:1 d"]
    state = "def r(emb, centroid_offset=100, assigned=None):\n    pass\n"
    assert dual_input_signatures(state, "m.py") == ["m.py:1 r"]
    assert dual_input_signatures(
        "def b(emb, m=16, k_sub=32, dim=64, codebook=None):\n    pass\n", "m.py"
    ) == []
    assert dual_input_signatures(
        "def s(emb, index, encoding, k=5):\n    pass\n", "m.py"
    ) == []


# ---------------------------------------------------------------------------
# Rule 7: one materialization primitive.  An operator returns a lazy
# DataFrame, so a ``persist()``/``cache()`` it makes outlives the call and
# a later call in the session reuses the cached plan.  Shared
# intermediates are cut with ``localCheckpoint`` instead; the one
# allowed persist is a frame the same function unpersists in a
# ``finally`` before it returns (kmeans_train's training table).
# ---------------------------------------------------------------------------

_PERSIST_CALLS = {"persist", "cache"}


def _unpersisted_in_finally(fn: ast.AST) -> set[str]:
    """Names ``fn`` calls ``.unpersist(...)`` on inside a ``finally``."""
    names = set()
    for node in ast.walk(fn):
        if not isinstance(node, ast.Try):
            continue
        for stmt in node.finalbody:
            for c in ast.walk(stmt):
                if (
                    isinstance(c, ast.Call)
                    and isinstance(c.func, ast.Attribute)
                    and c.func.attr == "unpersist"
                    and isinstance(c.func.value, ast.Name)
                ):
                    names.add(c.func.value.id)
    return names


def unscoped_persists(source: str, filename: str) -> list[str]:
    """``file:line call`` for every ``.persist(``/``.cache()`` in
    ``source`` whose result is not bound to a name that its enclosing
    function unpersists in a ``finally``."""
    tree = ast.parse(source)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    hits = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _PERSIST_CALLS
        ):
            continue
        fn = parents.get(node)
        while fn is not None and not isinstance(
            fn, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            fn = parents.get(fn)
        assign = parents.get(node)
        bound = (
            assign.targets[0].id
            if isinstance(assign, ast.Assign)
            and len(assign.targets) == 1
            and isinstance(assign.targets[0], ast.Name)
            else None
        )
        if fn is None or bound not in _unpersisted_in_finally(fn):
            hits.append((node.lineno, f"{filename}:{node.lineno} {node.func.attr}"))
    return [h for _, h in sorted(hits)]


def test_no_persist_outlives_its_call():
    bad = []
    for p in sorted(_PKG.rglob("*.py")):
        bad += unscoped_persists(p.read_text(), p.relative_to(_PKG).as_posix())
    assert not bad, (
        f"persist()/cache() that outlives its call (cut with "
        f"localCheckpoint, or unpersist in a finally): {bad}"
    )


def test_persist_checker_catches_each_spelling():
    """Self-test: a bare persist, a cache(), a persist unpersisted
    outside a ``finally`` and one unpersisted under another name trip
    the checker; the kmeans_train shape does not."""
    scoped = (
        "def train(df):\n"
        "    emb = df.persist()\n"
        "    try:\n"
        "        return emb.count()\n"
        "    finally:\n"
        "        emb.unpersist()\n"
    )
    assert unscoped_persists(scoped, "operators/m.py") == []
    assert unscoped_persists(
        scoped.replace("df.persist()", "df.cache()"), "m.py"
    ) == []
    bare = "def op(df):\n    return df.persist().filter('x')\n"
    assert unscoped_persists(bare, "operators/m.py") == ["operators/m.py:2 persist"]
    cached = "def op(df):\n    sh = df.cache()\n    return sh.join(sh, 'k')\n"
    assert unscoped_persists(cached, "m.py") == ["m.py:2 cache"]
    no_finally = (
        "def op(df):\n"
        "    emb = df.persist()\n"
        "    n = emb.count()\n"
        "    emb.unpersist()\n"
        "    return n\n"
    )
    assert unscoped_persists(no_finally, "m.py") == ["m.py:2 persist"]
    other_name = scoped.replace("emb.unpersist()", "df.unpersist()")
    assert unscoped_persists(other_name, "m.py") == ["m.py:2 persist"]
    module_level = "X = df.persist()\n"
    assert unscoped_persists(module_level, "m.py") == ["m.py:1 persist"]


# ---------------------------------------------------------------------------
# Rule 8: one spelling of the reference workload.  Each of the reference's
# SELECTs is a statement in taxi_sql.py, checked directly against a DuckDB
# oracle or a fixture golden (tests/test_taxi_golden.py).  A package
# function named after a statement is a second spelling of it that no
# workload runs and only a chain of equality tests can hold to the first.
# ---------------------------------------------------------------------------


def taxi_statement_twins(source: str, filename: str, names) -> list[str]:
    """``file:line name`` for every function in ``source`` named after a
    taxi statement in ``names``."""
    return [
        f"{filename}:{node.lineno} {node.name}"
        for node in ast.walk(ast.parse(source))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name in names
    ]


def test_taxi_statements_are_spelled_once():
    from nyc_taxi_dataset_analysis_apache_hive_spark import taxi_sql

    bad = []
    for p in sorted(_PKG.rglob("*.py")):
        rel = p.relative_to(_PKG).as_posix()
        if rel != "taxi_sql.py":
            bad += taxi_statement_twins(p.read_text(), rel, taxi_sql.ALL_TAXI_SQL)
    assert not bad, f"second spelling of a taxi_sql statement: {bad}"


def test_taxi_twin_checker_catches_each_spelling():
    """Self-test: a module-level function, a method and a nested helper
    named after a statement trip the checker; other names do not."""
    names = {"vendor_counts", "tip_percentiles"}
    assert taxi_statement_twins(
        "def vendor_counts(trips):\n    pass\n", "operators/quality.py", names
    ) == ["operators/quality.py:1 vendor_counts"]
    method = "class A:\n    def tip_percentiles(self, clean, exact=False):\n        pass\n"
    assert taxi_statement_twins(method, "m.py", names) == ["m.py:2 tip_percentiles"]
    nested = "def f():\n    def vendor_counts():\n        pass\n"
    assert taxi_statement_twins(nested, "m.py", names) == ["m.py:2 vendor_counts"]
    assert taxi_statement_twins(
        "def vendor_count(t):\n    pass\nvendor_counts = 1\n", "m.py", names
    ) == []
