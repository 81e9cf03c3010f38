"""Package code that no run path reaches is deleted, not kept for tests.

The run paths are the driver contract (``__spark_entry__.py``),
``bench.py``, ``BENCH/``, ``perfbench/`` and ``scripts/``.  A top-level
definition of the package is reached when its name occurs in a root, in
module-level code of the package, or in the body of a definition that is
itself reached.  Every identifier counts (names, attributes, import
aliases and exact-identifier string literals); docstrings do not.  The
scan matches names, not bindings, so it over-approximates uses: what it
reports as unreached is unreached, unless something imports by a computed
name (only ``perfbench/run.py`` does, and it loads perfbench modules).

A definition that only tests use needs an entry in ``ALLOWED`` with the
reason it stays; an entry whose definition a run path reaches is stale.

The same holds for option forks.  A parameter of a package function is
tested when its name occurs in the test of an ``if`` statement or
conditional expression in that function's body (nested functions
included), or when the body passes it on, by keyword or by position, to
a tested parameter of a function of the callee's name (followed
transitively).  A fork is a tested optional parameter.  It is set when
some call in a root or in the package passes it, by keyword or by
position, to a function of that name (names, not bindings, again; a
``*args`` or ``**kwargs`` call counts as passing everything).  A fork
that only tests set needs an entry in ``ALLOWED_FORKS`` with the reason
it stays; an entry for a fork that a run path sets is stale."""

import ast
import functools
import pathlib

import kelos_on_kafka_spark

PACKAGE = pathlib.Path(kelos_on_kafka_spark.__file__).parent
REPO = PACKAGE.parent
ROOTS = ["__spark_entry__.py", "bench.py", "BENCH", "perfbench", "scripts"]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Assign, ast.AnnAssign)

ALLOWED = {
    "__all__": "package export list",
    "__version__": "package metadata",
    "gaussian_kernel": "density oracle of tests/test_core_density.py",
    "read_reference_csv": "reads the reference's data in test_reference_data",
    "to_spark_points": "fixture builder of test_spark_batch and test_epanechnikov",
    "write_pages_parquet": "fixture builder of test_spark_submit",
    "_StreamShard": "older stream checkpoints unpickle this name (test_stream_state_compat)",
}

ALLOWED_FORKS = {
    "salted_topn.descending": "ascending top-n (test_skew, test_skew_property)",
    "salted_join.how": "the left join (test_skew, test_skew_property)",
    "stream_pane_sample.priority_col": "weighted sampling by a caller's priority (test_sample_stream)",
    "stream_funnel.max_age_us": "state eviction bound (test_funnel_stream)",
    "stream_funnel.allow_unbounded_state": "opt-out of the state bound (test_funnel_stream)",
    "dedup_decisions.groups": "reuses materialized near-dup groups (test_dedup_cc, test_round6_fixes)",
    "asof_join.tolerance_us": "bounded as-of match (test_temporal)",
    "featurize_pages.html_col": "pages without an HTML column (test_features)",
    "stream_near_dup_pairs.max_bucket": "bucket size bound (test_stream_dedup)",
    "containment_pairs.id_col": "column name; _pair_ids_packable tests its type",
    "ngram_jaccard_pairs.id_col": "column name; _pair_ids_packable tests its type",
    "ngram_jaccard_prefix_pairs.id_col": "column name; _pair_ids_packable tests its type",
}


def _is_docstring(node) -> bool:
    return isinstance(node, ast.Expr) and isinstance(getattr(node.value, "value", None), str)


def _names(tree) -> set[str]:
    """Every identifier used in ``tree``, docstrings left out."""
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(getattr(n, "body", None), list) and n.body and _is_docstring(n.body[0])
    }
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.update(node.name.split("."))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier() and id(node) not in docs:
                out.add(node.value)
    return out


def _root_files() -> list[pathlib.Path]:
    out = []
    for root in ROOTS:
        p = REPO / root
        out += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return out


def _def_names(node) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


@functools.lru_cache(maxsize=None)
def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def unreached() -> dict[str, int]:
    """``{"<module path>:<name>": <definition lines>}`` of every top-level
    package definition no root reaches."""
    defs = []  # (where, name, node)
    used = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        where = str(path.relative_to(REPO))
        for node in _parse(path).body:
            if isinstance(node, DEFS):
                defs += [(where, name, node) for name in _def_names(node)]
            elif not _is_docstring(node):
                used |= _names(node)
    for path in _root_files():
        used |= _names(_parse(path))
    reached = set()
    grew = True
    while grew:
        grew = False
        for where, name, node in defs:
            if name in used and (where, name) not in reached:
                reached.add((where, name))
                used |= _names(node)
                grew = True
    return {
        f"{where}:{name}": node.end_lineno - node.lineno + 1
        for where, name, node in defs
        if (where, name) not in reached
    }


def test_every_package_definition_is_reached_from_a_run_path():
    dead = {k: v for k, v in unreached().items() if k.split(":")[1] not in ALLOWED}
    assert not dead, f"{sum(dead.values())} unreached lines: {sorted(dead)}"


def test_allowlist_names_only_definitions_that_exist():
    """Every ``ALLOWED`` entry names a definition that exists and that
    no run path reaches; an entry for one that is gone or reached is
    stale."""
    unreached_names = {where.split(":")[1] for where in unreached()}
    stale = sorted(set(ALLOWED) - unreached_names)
    assert not stale, f"ALLOWED names no unreached definition: {stale}"


@functools.lru_cache(maxsize=None)
def forks(trees: tuple | None = None) -> dict[str, int | None]:
    """``{"<function>.<parameter>": <positional index, or None if
    keyword-only>}`` of every option fork in ``trees`` (default: the
    package's modules)."""
    if trees is None:
        trees = [_parse(path) for path in sorted(PACKAGE.rglob("*.py"))]
    options = {}  # "<fn>.<param>" -> positional index or None
    slots = {}  # "<fn>.<keyword>" / "<fn>.#<position>" -> "<fn>.<param>"s
    tested = set()
    forwards = set()  # ("<fn>.<param>", callee slot)
    for tree in trees:
        methods = {
            id(f)
            for c in ast.walk(tree)
            if isinstance(c, ast.ClassDef)
            for f in c.body
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            shift = int(id(fn) in methods)  # self / cls is not passed
            first = len(pos) - len(a.defaults)
            params = {p.arg for p in pos + a.kwonlyargs}
            for i, p in enumerate(pos):
                key = f"{fn.name}.{p.arg}"
                slots.setdefault(key, set()).add(key)
                slots.setdefault(f"{fn.name}.#{i - shift}", set()).add(key)
                if i >= first:
                    options[key] = i - shift
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                key = f"{fn.name}.{p.arg}"
                slots.setdefault(key, set()).add(key)
                if d is not None:
                    options[key] = None
            for node in ast.walk(fn):
                if isinstance(node, (ast.If, ast.IfExp)):
                    tested |= {
                        f"{fn.name}.{n.id}"
                        for n in ast.walk(node.test)
                        if isinstance(n, ast.Name) and n.id in params
                    }
                elif isinstance(node, ast.Call):
                    f = node.func
                    callee = getattr(f, "id", None) or getattr(f, "attr", None)
                    passed = [(f"#{i}", v) for i, v in enumerate(node.args)]
                    passed += [(k.arg, k.value) for k in node.keywords]
                    forwards |= {
                        (f"{fn.name}.{v.id}", f"{callee}.{slot}")
                        for slot, v in passed
                        if isinstance(v, ast.Name) and v.id in params
                    }
    grew = True
    while grew:
        grew = False
        for key, slot in forwards:
            if key not in tested and slots.get(slot, set()) & tested:
                tested.add(key)
                grew = True
    return {key: i for key, i in options.items() if key in tested}


def _passed() -> set[str]:
    """``"<callee>.<keyword>"`` and ``"<callee>.#<position>"`` of every
    call in the package and the roots; ``*`` / ``**`` for unpacking."""
    out = set()
    for path in sorted(PACKAGE.rglob("*.py")) + _root_files():
        for call in ast.walk(_parse(path)):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            out |= {f"{name}.{k.arg or '**'}" for k in call.keywords}
            out |= {f"{name}.#{i}" for i in range(len(call.args))}
            if any(isinstance(a, ast.Starred) for a in call.args):
                out.add(f"{name}.*")
    return out


def unset_forks() -> list[str]:
    """Every fork no run path or package call sets."""
    got = _passed()
    out = []
    for fork, i in forks().items():
        fn = fork.split(".")[0]
        ways = {fork, f"{fn}.**"}
        if i is not None:
            ways |= {f"{fn}.#{i}", f"{fn}.*"}
        if not ways & got:
            out.append(fork)
    return sorted(out)


def test_every_option_fork_is_set_by_a_run_path():
    unset = [fork for fork in unset_forks() if fork not in ALLOWED_FORKS]
    assert not unset, f"option forks only tests set: {unset}"


def test_fork_allowlist_names_only_forks_that_exist():
    """Every ``ALLOWED_FORKS`` entry names a fork that exists and that no
    run path sets; an entry for one that is gone or set is stale."""
    stale = sorted(set(ALLOWED_FORKS) - set(unset_forks()))
    assert not stale, f"ALLOWED_FORKS names no unset fork: {stale}"


def test_fork_scan_follows_forwarded_options():
    """An option only passed on, by position or keyword and through any
    number of calls, to a parameter that a callee tests is a fork."""
    tree = ast.parse(
        "def outer(n, descending=False, *, key=None):\n"
        "    return middle(n, desc=descending, k=key)\n"
        "def middle(n, desc, k):\n"
        "    return inner(n, desc)\n"
        "def inner(n, desc):\n"
        "    return -n if desc else n\n"
        "def plain(n, label='x'):\n"
        "    return inner(label, False)\n"
    )
    assert forks((tree,)) == {"outer.descending": 1}


HARNESS = ("_file_stream", "_await", "_drain")


def stream_harness_uses(tree: ast.Module) -> list[str]:
    """``"<line>: <use>"`` of every ``readStream``, ``awaitTermination``
    and ``format("memory")`` outside the driver's streaming helpers."""
    inside = {
        id(n)
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and fn.name in HARNESS
        for n in ast.walk(fn)
    }
    out = []
    for node in ast.walk(tree):
        if id(node) in inside:
            continue
        if isinstance(node, ast.Attribute) and node.attr in (
            "readStream",
            "awaitTermination",
        ):
            out.append((node.lineno, node.attr))
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "format"
            and node.args
            and getattr(node.args[0], "value", None) == "memory"
        ):
            out.append((node.lineno, 'format("memory")'))
    return [f"{line}: {use}" for line, use in sorted(out)]


def test_driver_streams_only_through_its_harness():
    """Every driver streaming query stages with ``_file_stream`` and
    runs through ``_drain`` / ``_await``, so none can return a partial
    sink after a timeout."""
    assert stream_harness_uses(_parse(REPO / "__spark_entry__.py")) == []
    copied = ast.parse(
        "def q(spark, out):\n"
        "    q = out.writeStream.format('memory').start()\n"
        "    q.awaitTermination(300)\n"
        "    return spark.readStream.parquet('x')\n"
    )
    assert stream_harness_uses(copied) == [
        "2: format(\"memory\")",
        "3: awaitTermination",
        "4: readStream",
    ]
