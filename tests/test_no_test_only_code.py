"""No package code that only tests reach.

Every top-level name defined in `basicocr_spark/` must be loaded by some
program outside `tests/`: the package itself, `run_extraction.py`,
`__spark_entry__.py`, perfbench, the bench scripts, examples or tools.
Reachability is transitive: a name loaded only from inside the body of
another unreached package name is unreached too. The oracle module
(`reference.py`) and dunder names are exempt; `SEAMS` names the rest of
the kept names, each with its reason.

The scan matches names, not modules: a load of `x.name`, a bare `name`,
an imported `name` or the string "name" (lazy `getattr` tables) keeps
every package definition called `name` alive."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "basicocr_spark"
EXEMPT_FILES = {PKG / "reference.py"}

SEAMS = {
    "build_fixture_dfs": "builds the tests' `fx` fixture and the verify recipe's frames",
    "minhash_signature": "SQL oracle of the minhash kernels (test_hash_kernels.py)",
    "cosine": "oracle of vectors._cosine_seq_batch",
    "validate_media": "media validity filter, for the model-bound media leg (ROADMAP direction 6)",
    "media_features": "media decode features, for the model-bound media leg (ROADMAP direction 6)",
    "media_batches_dynamic_width": "width bucketing of the batched forward (ROADMAP direction 6)",
    "build_blob_table": "the blob fixture the media-leg seams above are checked on",
    "corpus_distinct_estimate": "KMV cardinality that Bloom sizing will read (ROADMAP direction 4)",
    "incremental_media_dedup_batch": "entangled with SketchStore's committed phash leg",
    "streaming_extraction": "streaming entry point (foreachBatch extraction)",
    "windowed_event_counts": "streaming entry point (watermarked window aggregate)",
    "deduped_doc_stream": "streaming entry point (bounded-state stream dedup)",
}

_NAME_PATH = re.compile(r"[A-Za-z_][\w.:]*")


def _program_files():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).parts
        if rel[0] in {"tests", ".bench_build"} or any(p.startswith(".") for p in rel):
            continue
        yield path


def _loads(node):
    """Every name string `node` loads: bare names, attribute names,
    imported names and identifier-shaped string constants."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _NAME_PATH.fullmatch(n.value):  # "name", "pkg.mod", "mod:name"
                out.update(re.split(r"[.:]", n.value))
    return out


def _definitions(stmt):
    """Names a top-level statement of a package module binds, or None
    when it is not a definition (it then runs on import: a root)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        names = [t.id for t in targets if isinstance(t, ast.Name)]
        return names if len(names) == len(targets) else None
    return None


def unreached_names(seams=SEAMS):
    """`file:name` for every package definition no program reaches."""
    defs = {}  # name -> [(file, body loads)]
    live = set()
    for path in _program_files():
        tree = ast.parse(path.read_text())
        in_pkg = PKG in path.parents and path not in EXEMPT_FILES
        if not in_pkg:
            live |= _loads(tree)
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # binds a name defined elsewhere; its uses count
            names = _definitions(stmt)
            if names is None or any(n.startswith("__") for n in names):
                live |= _loads(stmt)
                continue
            for name in names:
                defs.setdefault(name, []).append((path, _loads(stmt) - {name}))
    live |= seams.keys()
    frontier = live & defs.keys()
    while frontier:
        name = frontier.pop()
        for _, loads in defs.pop(name):
            new = loads & defs.keys() - live
            live |= loads
            frontier |= new
    return sorted(
        f"{path.relative_to(ROOT)}:{name}"
        for name, sites in defs.items()
        if name not in live
        for path, _ in sites
    )


def test_every_package_name_is_reached_outside_tests():
    unreached = unreached_names()
    assert not unreached, unreached


def test_every_seam_is_needed():
    """Each SEAMS name is defined and reached by nothing else: an entry
    whose code is gone, or that a program now loads, is stale."""
    without = {site.rsplit(":", 1)[1] for site in unreached_names(seams={})}
    stale = sorted(set(SEAMS) - without)
    assert not stale, stale
