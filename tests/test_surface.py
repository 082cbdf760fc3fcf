"""Package surface guard: every public top-level function or class in the
package must be reached from outside ``tests/``.

A name counts as reached when it occurs as a whole word in any ``.py``
file of the repository outside ``tests/`` and hidden directories, its
own definition excluded (docstring and comment mentions count, so this
under-reports dead code rather than over-reporting it). Code that only
tests call is surface to maintain with nothing to run it: delete it, or
list it in ``KEEP`` with the reason it stays.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "series_correction_project_updated_spark"

KEEP = {
    "load_config": "reference config loader (docs/COVERAGE.md S5)",
    "merge_config": "reference config merge (docs/COVERAGE.md S5)",
    "read_sensor_files": "reference whitespace sensor-file reader (docs/COVERAGE.md S1)",
    "load_yty_diff_csv": "reference YTY-diff CSV (docs/COVERAGE.md S4)",
    "run_with_checkpoints": "reference checkpointed work list (docs/COVERAGE.md S7)",
    "positional_concat": "reference positional concat (docs/COVERAGE.md J2)",
    "read_pages": "read side of write_pages for the Iceberg pages input",
    "extract_text_from_html": "carries the byte-identical extracted-text invariant",
    "run_stream_to_parquet": "the stream-to-parquet sink two stream tests drive",
    # Test-only operators whose deletion waits for a later change, so
    # that their eleven tests retire in a batch of their own.
    "drop_duplicates_by_pairs": "deferred deletion (test-only)",
    "minhash_jaccard_estimate": "deferred deletion (test-only)",
    "funnel_counts": "deferred deletion (test-only)",
    "interval_overlap_join": "deferred deletion (test-only)",
    "series_quantiles": "deferred deletion (test-only)",
    "transition_matrix": "deferred deletion (test-only)",
    "redact_pii": "deferred deletion (test-only)",
}

_WORD = re.compile(r"\w+")


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).parts
        if rel[0] == "tests" or any(p.startswith(".") for p in rel):
            continue
        yield path


def _public_defs():
    """(name, path, first line, last line) of each public top-level
    function or class in the package."""
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("_"):
                    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                    yield node.name, path, first, node.end_lineno


def _unreached():
    words = Counter()
    lines = {}
    for path in _sources():
        lines[path] = path.read_text().splitlines()
        for line in lines[path]:
            words.update(_WORD.findall(line))
    out = []
    for name, path, first, last in _public_defs():
        own = sum(_WORD.findall(line).count(name) for line in lines[path][first - 1 : last])
        if words[name] - own == 0:
            out.append(f"{path.relative_to(PACKAGE)}:{first} {name}")
    return out


def test_every_public_name_is_reached_or_kept():
    unreached = [u for u in _unreached() if u.rsplit(" ", 1)[1] not in KEEP]
    assert unreached == [], "only tests reach these; delete them or add to KEEP:\n" + "\n".join(
        unreached
    )


def test_keep_names_are_defined():
    defined = {name for name, *_ in _public_defs()}
    assert sorted(set(KEEP) - defined) == []
