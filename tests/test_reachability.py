"""Every top-level def and class in the package is reached by the program,
not only by tests.

A name counts as reached when it is referenced (as a name, an attribute or
an import) from code outside any ``tests/`` directory: the package itself,
``perfbench/``, ``bench*.py``, ``scripts/`` or ``__spark_entry__.py``. A
def's references to its own name from inside its own body do not count.
The match is by name, so two defs that share a name reach each other; the
check is a floor, not a call graph. Spark-free: it only parses source.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "tika_xapian_spark"

# Kept although only tests reference them, each for the reason given.
TEST_REFERENCES = {
    "op_or": "search: the join-algebra reference for boolean OR",
    "lsh_cosine_topk": "similarity: brute-force reference for AnnIndex (test_ann_index)",
    "ivf_cosine_topk": "similarity: brute-force reference for AnnIndex (test_ann_index)",
    "multiprobe_cosine_topk": "similarity: brute-force reference for AnnIndex (test_ann_index)",
    "format_postings": "tokenizer: renders the api_termgen.cc golden format",
    "_dup_run_stats": "textstats: assembles the _run_stat_exprs SQL the property test checks",
    "read_file_glob": "files: the reference's file-mode source (src/util.rs:5-35)",
    "op_and": "search: the join-algebra reference for boolean AND",
    "extract_pages": "extract: the unfused extract step the fused carrier must equal",
    "quarantine": "extract: the error channel of extract_pages' rows",
    "snippet_shapes": "query_compiler: check_query's snippet decomposition",
    "kmv_distinct": "sketches: the KMV distinct-count sketch, its invariants pinned in test_sketches",
}


def _program_files() -> list[Path]:
    files = list(PACKAGE.rglob("*.py"))
    files += list((ROOT / "perfbench").rglob("*.py"))
    files += list((ROOT / "scripts").rglob("*.py"))
    files += list(ROOT.glob("bench*.py"))
    files.append(ROOT / "__spark_entry__.py")
    return [f for f in files if "tests" not in f.relative_to(ROOT).parts]


def _top_level_defs(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node


def _names_used(node: ast.AST) -> set[str]:
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
    return used


def _unreached() -> set[str]:
    """Names of the package defs no program code references."""
    trees = {f: ast.parse(f.read_text(), str(f)) for f in _program_files()}
    defs = []  # (file, name)
    refs: dict[str, set[tuple[Path, str | None]]] = {}
    for f, tree in trees.items():
        top = {id(d): d.name for d in _top_level_defs(tree)}
        for node in tree.body:
            owner = top.get(id(node))
            if owner is not None and f.is_relative_to(PACKAGE):
                defs.append((f, owner))
            for name in _names_used(node):
                refs.setdefault(name, set()).add((f, owner))
    return {name for f, name in defs if not refs.get(name, set()) - {(f, name)}}


def test_only_allowlisted_defs_are_reached_from_tests_alone():
    """A def outside the allowlist that only tests reach is dead code:
    delete it. An allowlist entry whose def is gone or has gained a
    program caller is dead weight: drop it."""
    assert _unreached() == set(TEST_REFERENCES)
