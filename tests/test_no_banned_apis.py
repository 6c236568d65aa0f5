"""Zero-per-row-Python discipline, enforced (SURVEY.md §7 hard part #2):
no row-at-a-time `F.udf`, no `.rdd`, no driver-side collect-and-loop in
the engine package. Arrow-batched pandas UDFs / mapInPandas are the only
sanctioned Python compute."""

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "basicocr_spark"

BANNED = [
    (re.compile(r"\bF\.udf\s*\("), "row-at-a-time F.udf"),
    (re.compile(r"@udf\b"), "row-at-a-time @udf"),
    (re.compile(r"\.rdd\b"), "RDD access"),
    (re.compile(r"\bsc\.parallelize\b"), "RDD creation"),
    (re.compile(r"\.toPandas\s*\("), "driver-side full materialization"),
]

# .collect() is allowed only where the collected data is provably
# driver-sized: whole files named here (checkpoint manifest metadata),
# or an individual line carrying an explicit `# sanctioned-collect:`
# marker stating WHY it is bounded (e.g. the BPE trainer's 1-row argmax
# per round). Anything else is a driver-side materialization bug.
COLLECT_ALLOWED = {"checkpoint.py"}
SANCTION_MARK = "# sanctioned-collect:"


def _py_files():
    return [p for p in PKG.rglob("*.py")]


def test_no_banned_apis():
    offenders = []
    for path in _py_files():
        text = path.read_text()
        for pat, why in BANNED:
            for m in pat.finditer(text):
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{path.name}:{line} {why}")
    assert not offenders, offenders


def test_collect_only_in_sanctioned_sites():
    offenders = []
    for path in _py_files():
        if path.name in COLLECT_ALLOWED:
            continue
        text = path.read_text()
        lines = text.splitlines()
        for m in re.finditer(r"\.collect\s*\(\)", text):
            line = text[: m.start()].count("\n") + 1
            if SANCTION_MARK in lines[line - 1]:
                continue
            offenders.append(f"{path.name}:{line}")
    assert not offenders, offenders


IMPORT_PROBES = {"ImportError", "ModuleNotFoundError"}


def test_no_import_probes():
    """No `except ImportError` / `except ModuleNotFoundError` handler in
    the package: an operator's default must not depend on which optional
    libraries the host happens to have. A real decoder or recognizer
    plugs in by explicit injection instead."""
    offenders = []
    for path in _py_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ExceptHandler) or node.type is None:
                continue
            types = node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
            names = {t.id for t in types if isinstance(t, ast.Name)}
            if names & IMPORT_PROBES:
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, offenders


def test_marker_rename_only_in_checkpoint():
    """A snapshot becomes visible through one protocol, plans/checkpoint.py's
    `publish` (tmp write, then os.rename): no other module renames a
    marker into place by hand."""
    owner = PKG / "plans" / "checkpoint.py"
    offenders = []
    for path in _py_files():
        if path == owner:
            continue
        text = path.read_text()
        for m in re.finditer(r"\bos\.rename\s*\(", text):
            offenders.append(f"{path.relative_to(PKG)}:{text[: m.start()].count(chr(10)) + 1}")
    assert not offenders, offenders


# (file, function) where a parquet read may leave the schema to inference:
# the catalog's sf-table scan, where declared schemas saved no wall time.
SCHEMALESS_READ_ALLOWED = {("queries.py", "_t")}


def test_parquet_reads_pass_a_schema():
    """Every `<x>.read...parquet(...)` chain in the package sets
    `.schema(...)`, so no read fires a schema-inference job: a snapshot
    store takes its tables' schema from their parquet footers."""
    offenders = []
    for path in _py_files():
        tree = ast.parse(path.read_text())
        owner = {}  # node -> innermost enclosing function (walk is outer-first)
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for n in ast.walk(fn):
                    owner[n] = fn.name
        for node in ast.walk(tree):
            func = getattr(node, "func", None)
            if not (isinstance(node, ast.Call) and isinstance(func, ast.Attribute)):
                continue
            if func.attr != "parquet":
                continue
            chain, cur = set(), func.value
            while isinstance(cur, (ast.Call, ast.Attribute)):
                if isinstance(cur, ast.Call):
                    cur = cur.func
                else:
                    chain.add(cur.attr)
                    cur = cur.value
            if "read" not in chain or "schema" in chain:
                continue
            if (path.name, owner.get(node)) not in SCHEMALESS_READ_ALLOWED:
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, offenders
