"""Program code reaches every top-level name in ``wordscape_spark/``.

A top-level ``def``, ``class`` or module-level assigned name that only tests
call is code nobody runs: it drifts from the paths the queries take and still
costs a reader.  This scan parses the program sources (the package,
``scripts/``, ``__spark_entry__.py``, ``bench.py`` and ``perfbench/``) with
``ast`` and fails on any name that no program source references outside its
own definition, unless ``ALLOWLIST`` says why it stays.

The same parse bans pandas from the program: no pandas UDF call site in the
package, and no program source imports the ``pandas`` module (the executor
UDF shape is Arrow, through ``sources.ingest.map_rows`` or ``arrow_udf``).
It also keeps span ``kind``-field regexes inside ``signal.py``.
"""
import ast
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "wordscape_spark"
PROGRAM = sorted(
    [*PKG.rglob("*.py"), *(ROOT / "scripts").rglob("*.py"),
     ROOT / "__spark_entry__.py", ROOT / "bench.py",
     *(ROOT / "perfbench").glob("*.py")]
)

# Public seams no program code calls, each kept for the reason given.
ALLOWLIST = {
    "fasttext_classifier": "import-guarded fastText seam for with_langid's classifier=, documented in README",
    "kenlm_scorer": "import-guarded KenLM seam for perplexity scoring, documented in README",
    "oleid_indicators": "import-guarded oletools seam for maldoc_check's indicator=, documented in README",
    "pil_feature_decoder": "import-guarded Pillow seam for extract_features' decoder=, documented in README",
    "pil_resampler": "import-guarded Pillow seam for resize_media's resampler=, documented in README",
    "urllib_fetcher": "stdlib network seam for acquire's fetcher=, documented in README",
    "extract_features": "unfused reference that tests compare media_features against, and its decoder= seam",
    "tables_from_counts": "serve half of the registered langid_train query",
}

PANDAS_UDFS = {"mapInPandas", "applyInPandas", "applyInPandasWithState", "pandas_udf"}
PANDAS_SITES: dict[str, int] = {}


def _trees():
    return {p: ast.parse(p.read_text(), filename=str(p)) for p in PROGRAM}


def _definitions(tree):
    """(name, first line, last line) of each top-level def, class and assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node.lineno, node.end_lineno


def _references(tree):
    """(name, line) of each Name, Attribute, import alias and identifier
    string.  A bare Name that the file itself defines at top level is
    that file's own name, so another module's same-named definition does
    not count it."""
    own = {name for name, _, _ in _definitions(tree)}
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno, n.id in own
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno, False
        elif isinstance(n, ast.alias):
            for part in n.name.split("."):
                yield part, n.lineno, False
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            yield n.value, n.lineno, False


def _unreached():
    """``{name: "path:line"}`` of package names no program source references."""
    trees = _trees()
    refs = defaultdict(list)
    for path, tree in trees.items():
        for name, line, local in _references(tree):
            refs[name].append((path, line, local))
    unreached = {}
    for path, tree in trees.items():
        if PKG not in path.parents:
            continue
        for name, lo, hi in _definitions(tree):
            if all(
                lo <= line <= hi if p == path else local
                for p, line, local in refs[name]
            ):
                unreached[name] = f"{path.relative_to(ROOT)}:{lo}"
    return unreached


def test_every_top_level_name_is_reached_from_program_code():
    unreached = _unreached()
    dead = sorted(f"{where} {name}" for name, where in unreached.items() if name not in ALLOWLIST)
    assert not dead, "only tests reach these; delete them or allowlist with a reason:\n" + "\n".join(dead)
    # An entry that program code now reaches, or that is gone, is stale.
    assert set(ALLOWLIST) <= set(unreached), set(ALLOWLIST) - set(unreached)


def test_pandas_udf_sites_are_pinned_per_module():
    sites = Counter()
    for path, tree in _trees().items():
        if PKG not in path.parents:
            continue
        for n in ast.walk(tree):
            name = n.attr if isinstance(n, ast.Attribute) else n.id if isinstance(n, ast.Name) else None
            if name in PANDAS_UDFS:
                sites[path.relative_to(PKG).as_posix()] += 1
    assert dict(sites) == PANDAS_SITES


def test_no_program_source_imports_pandas():
    """``pyspark.sql.pandas.*`` (Arrow type helpers) stays allowed; the
    top-level ``pandas`` module does not."""
    imports = []
    for path, tree in _trees().items():
        if PKG not in path.parents and ROOT / "scripts" not in path.parents:
            continue
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                names = [a.name for a in n.names]
            elif isinstance(n, ast.ImportFrom) and not n.level:
                names = [n.module or ""]
            else:
                continue
            imports += [
                f"{path.relative_to(ROOT)}:{n.lineno} {name}"
                for name in names if name.split(".")[0] == "pandas"
            ]
    assert not imports, imports


KIND_FIELDS = ("p=", "sz=", "b=", "s=")


def test_kind_fields_parse_only_in_signal():
    """Span ``kind`` fields (``p=``, ``sz=``, ``b=``, ``s=``) are parsed in
    ``signal.py`` alone (``parse_run`` and the writers' ``body_items``),
    so a second regex reader of the span grammar cannot land unnoticed.
    Any ``re`` call whose literal pattern names a kind field counts;
    Spark ``regexp_extract`` columns run in the JVM and are not ``re``
    calls."""
    holders = set()
    for path, tree in _trees().items():
        if PKG not in path.parents and ROOT / "scripts" not in path.parents:
            continue
        re_names = {
            a.asname or a.name
            for n in ast.walk(tree) if isinstance(n, ast.Import)
            for a in n.names if a.name == "re"
        }
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Call) and n.args
                    and isinstance(n.func, ast.Attribute)
                    and isinstance(n.func.value, ast.Name)
                    and n.func.value.id in re_names):
                continue
            pattern = n.args[0]
            if isinstance(pattern, ast.Constant) and isinstance(pattern.value, (str, bytes)):
                text = pattern.value if isinstance(pattern.value, str) else pattern.value.decode("latin-1")
                if any(field in text for field in KIND_FIELDS):
                    holders.add(path.relative_to(PKG).as_posix())
    assert holders <= {"signal.py"}, holders


def test_accepted_doc_results_are_built_only_by_merge_parts():
    """An accepted ``DocResult`` (``ok`` argument ``True``) is built in
    ``core/classify.merge_parts`` alone: the whole-document kernel and the
    salted mega-doc merge both assemble a document through that one merge
    of classified parts, so a second document assembly cannot land
    unnoticed."""
    sites = []
    for path, tree in _trees().items():
        for top in tree.body:
            for n in ast.walk(top):
                if not (isinstance(n, ast.Call) and "DocResult" in (
                        getattr(n.func, "id", None),
                        getattr(n.func, "attr", None))):
                    continue
                ok = n.args[0] if n.args else next(
                    (k.value for k in n.keywords if k.arg == "ok"), None)
                if isinstance(ok, ast.Constant) and ok.value is True:
                    sites.append(f"{path.relative_to(ROOT).as_posix()}:"
                                 f"{getattr(top, 'name', n.lineno)}")
    assert sites == ["wordscape_spark/core/classify.py:merge_parts"], sites


OPTION_DIRS = ("operators", "sources", "plans", "streaming")


def _params(fn):
    a = fn.args
    return [*a.posonlyargs, *a.args, *a.kwonlyargs]


def test_every_bool_option_is_passed_by_a_program_caller():
    """A ``bool`` parameter of a function in ``operators/``, ``sources/``,
    ``plans/`` or ``streaming/`` selects between code paths; one that no
    program caller passes selects a path only tests run.  A call passes a
    parameter by keyword or by position; an argument that merely forwards
    the calling function's own parameter counts only when that parameter
    is itself passed."""
    positions = defaultdict(dict)  # function name -> {param: index}
    calls = []  # (callee, position, keyword, forwarded (caller, param) or None)
    options = []
    for path, tree in _trees().items():
        scanned = PKG in path.parents and path.relative_to(PKG).parts[0] in OPTION_DIRS

        def visit(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for i, p in enumerate(_params(node)):
                    positions[node.name].setdefault(p.arg, i)
                    if scanned and getattr(p.annotation, "id", None) == "bool":
                        options.append((node.name, p.arg, f"{path.relative_to(ROOT)}:{node.lineno}"))
                fn = node
            elif isinstance(node, ast.Call):
                callee = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                own = {p.arg for p in _params(fn)} if fn else set()
                args = [(i, None, a) for i, a in enumerate(node.args)]
                args += [(None, k.arg, k.value) for k in node.keywords if k.arg]
                for i, name, value in args:
                    fwd = value.id if isinstance(value, ast.Name) and value.id in own else None
                    calls.append((callee, i, name, (fn.name, fwd) if fwd else None))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(tree, None)
    passed: set = set()
    grew = True
    while grew:
        grew = False
        for callee, i, name, fwd in calls:
            params = positions.get(callee, {})
            param = name if name is not None else next(
                (p for p, j in params.items() if j == i), None)
            if param is None or (callee, param) in passed:
                continue
            if fwd is None or fwd in passed:
                passed.add((callee, param))
                grew = True
    unpassed = sorted(f"{where} {fn}({p}=)" for fn, p, where in options if (fn, p) not in passed)
    assert not unpassed, "no program caller passes these options; delete the path they select:\n" + "\n".join(unpassed)
