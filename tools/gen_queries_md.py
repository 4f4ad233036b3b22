"""Regenerate the docs written from the registry: QUERIES.md, the
one-line index of every registry entry (printed to stdout), and
README.md's registry-count line (synced in place).

Usage: python tools/gen_queries_md.py > QUERIES.md
"""

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from big_data_project_implementation_spark.queries import REGISTRY  # noqa: E402


def readme_counts_line() -> str:
    """The README's registry-count line, derived from the registry
    itself so the prose count cannot drift from the code."""
    total = len(REGISTRY)
    oracled = sum(1 for e in REGISTRY.values() if e.oracle is not None)
    return (
        f"  queries/        the graded surface: {total} registered queries,"
        " each a\n"
        "                  (PySpark DataFrame fn, DuckDB oracle SQL) pair\n"
        f"                  ({oracled} oracled; approximate/engine-specific"
        " ops rows-only)"
    )


def sync_readme() -> None:
    path = os.path.join(ROOT, "README.md")
    with open(path) as fh:
        text = fh.read()
    new = re.sub(
        r"  queries/        the graded surface: \d+ registered queries,"
        r" each a\n.*?rows-only\)",
        readme_counts_line().replace("\\", r"\\"),
        text,
        flags=re.S,
    )
    if new != text:
        with open(path, "w") as fh:
            fh.write(new)
        print(f"synced registry counts into {path}", file=sys.stderr)


def main() -> None:
    print("# QUERIES — registry index (generated by tools/gen_queries_md.py)")
    print()
    print(f"{len(REGISTRY)} entries in registration order; ⊕ = DuckDB-oracled,")
    print("○ = rows-only by design (approximate/fixpoint). One line each: the")
    print("first sentence of the query's docstring.")
    print()
    print("| query | | summary |")
    print("|---|---|---|")
    for name, spec in REGISTRY.items():
        mark = "⊕" if spec.oracle else "○"
        first = (spec.doc or "").split(". ")[0].replace("\n", " ").strip()
        if len(first) > 160:
            first = first[:157] + "…"
        print(f"| `{name}` | {mark} | {first} |")
    sync_readme()


if __name__ == "__main__":
    main()
