"""Every package module, and every public definition in one, is
reached from a program entry point.

A static import walk (stdlib `ast`, no Spark) from the CLI, the driver
contract, the query bench and the benchmark harness.  A module that
only its own test imports fails here by name: delete it, or wire it to
an entry point.  So does a top-level public function or class that no
reached module names outside the definition's own body.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "file_dedup_rust_spark"

ROOTS = [
    REPO / "run_pipeline.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
]

# Package modules that no entry point imports, each with its reason.
ALLOWED_UNREACHED = {
    # the numpy reference that tests/test_pipeline_recall.py and
    # tests/test_datagen_oracle.py compare the Spark pipeline against
    f"{PKG}.oracle",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in sorted((REPO / PKG).rglob("*.py"))}


def _imports(path: Path, name: str, modules: dict[str, Path]) -> set[str]:
    """Package modules `path` imports anywhere in its body, including
    function-level and relative imports.  `from a import b` counts `a.b`
    when `b` is a submodule, and importing `a.b.c` counts the parent
    packages `a` and `a.b` whose `__init__` runs first."""
    is_pkg = path.name == "__init__.py"
    base = name.split(".") if is_pkg else name.split(".")[:-1]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                up = base[: len(base) - node.level + 1]
                mod = ".".join(up + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            found.add(mod)
            found.update(f"{mod}.{a.name}" for a in node.names)
    closed = set()
    for mod in found:
        parts = mod.split(".")
        closed.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {m for m in closed if m in modules}


def _reached() -> set[str]:
    modules = _package_modules()
    todo = [(p, _module_name(p)) for p in ROOTS]
    seen: set[str] = set()
    while todo:
        path, name = todo.pop()
        for mod in _imports(path, name, modules) - seen:
            seen.add(mod)
            todo.append((modules[mod], mod))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules, reached = set(_package_modules()), _reached()
    unreached = sorted(modules - reached - ALLOWED_UNREACHED)
    assert not unreached, (
        "package modules no entry point imports (only tests reach them): "
        + ", ".join(unreached)
    )
    # an allow-list entry must name a module that exists and is unreached
    assert ALLOWED_UNREACHED <= modules - reached


# Top-level public definitions that no reached module references, each
# with the property it protects.
ALLOWED_UNREACHED_DEFS = {
    # test support: fixture generators and encoders
    "datagen.generate_clips_pandas": "the pandas clip fixture Spark-free tests and the numpy oracle read",
    "datagen.clustered_embeddings": "the clusterable embedding fixture of the IVF recall and SemDeDup tests",
    "datagen.hot_skew_clips": "the planted hot-key corpus of the skew stress test",
    "functions.audio.encode_wav_adpcm": "fixture encoder: ADPCM WAV inputs for the decode round-trip tests",
    "functions.audio.encode_wav_g711": "fixture encoder: G.711 WAV inputs for the decode round-trip tests",
    "functions.flac.encode_flac": "fixture encoder: FLAC inputs for the lossless decode tests",
    # references the tests compare production code against
    "functions.text.jaccard": "exact word-shingle Jaccard the MinHash estimate is checked against",
    "functions.text.transcript_minhash": "per-row numpy MinHash the vectorized signature UDF must equal",
    "functions.text.minhash_bands": "per-row numpy LSH bands the vectorized signature UDF must equal",
    "functions.text.transcript_fingerprints": "per-row numpy winnowing the vectorized signature UDF must equal",
    "functions.audio.spectral_rolloff": "one-FFT rolloff definition that pins the `_rolloff_of_psd` kernel rolloff_from_power shares",
    "operators.verify.verify_simhash": "join-form SimHash verify that simhash_edges_in_bucket must reproduce",
    "operators.containment.containment_pairs_in_bucket": "all-pairs bucket search that pins `_sa_range`, which verify_oriented_pairs shares",
    "operators.conflicts.oversize_groups": "lists the hot groups medoid_repair's variant_cap drops, so the drop is shown not silent",
    "operators.audio_containment.undecoded_clips": "lists the quarantine marker rows, so undecodable clips are shown kept, not dropped",
    # the reference's create-or-join cluster step (deduplication_service.rs:374-433)
    "streaming.incremental.streaming_cluster_assign": "the only applyInPandasWithState surface: exact duplicates join one representative",
}


def _referenced_names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Every name `tree` loads, reads as an attribute or imports,
    outside the subtree `skip`.  Loose on purpose: a same-named local
    can hide a dead definition, but nothing can flag a live one."""
    names: set[str] = set()
    todo = [tree]
    while todo:
        node = todo.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
        todo.extend(ast.iter_child_nodes(node))
    return names


def _unreached_defs() -> set[str]:
    modules = _package_modules()
    files = {str(p): p for p in ROOTS} | {m: modules[m] for m in _reached()}
    trees = {k: ast.parse(p.read_text(), str(p)) for k, p in files.items()}
    everywhere = {k: _referenced_names(t) for k, t in trees.items()}
    unreached = set()
    for mod in modules:
        if mod not in trees:  # an unreached module: the guard above
            continue
        tree = trees[mod]
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            own = _referenced_names(tree, skip=node)
            if not any(
                node.name in (own if k == mod else refs)
                for k, refs in everywhere.items()
            ):
                unreached.add(f"{mod.removeprefix(PKG + '.')}.{node.name}")
    return unreached


def test_every_public_definition_is_referenced_from_an_entry_point():
    unreached = _unreached_defs()
    missing = sorted(unreached - set(ALLOWED_UNREACHED_DEFS))
    assert not missing, (
        "public definitions no reached module references (only tests "
        "reach them): " + ", ".join(missing)
    )
    # an allow-list entry must name a definition that is still unreached
    stale = sorted(set(ALLOWED_UNREACHED_DEFS) - unreached)
    assert not stale, "stale ALLOWED_UNREACHED_DEFS entries: " + ", ".join(stale)
